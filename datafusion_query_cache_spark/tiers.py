"""Refresh-tier machinery for :class:`.session.CachedSparkSession`.

Three refresh tiers turn one cached aggregate's (state, fresh-tail) pair
into a result. ``_plan_cached`` tries them in this order and takes the
first that admits the shape:

* **nano** — no Spark job: a pyarrow scan of a bytes-gated registered
  parquet source, vectorized partial aggregation, and an exact Python
  merge/finalize on the driver (``_nano_template`` / ``_run_nano``;
  programs in ``nano.py``). It also serves a cold load's whole-history
  scan. Bench rows it wins: every ``perfbench`` ``small_dashboard``
  refresh and cold load.
* **lite** — one plain-sized Spark job (the fresh-window scan plus its
  partial aggregate), then the same driver merge/finalize
  (``_lite_template`` / ``_run_lite``). Bench rows it wins: the
  ``bench.py`` warm rows over plain views or with nano off
  (``qc_x1000_warm``, ``qc_dyn_x1000_warm``, ``qc_warm_dist``,
  ``qc_dyn_warm_dist``).
* **classic** — the DataFrame program built per refresh (``_warm_merge``
  and the finalize in ``session.py``). It serves every shape the driver
  tiers refuse (no exact Python mirror, a cross-bucket merge, big or
  layered state) and every fallback, so the ladder always ends exact.

Also home to the shared planning helpers (``_push_time_bounds``,
``_partition_date_bounds``, ``_order_col``) and the :class:`Decision`
observability record, imported back into ``session.py`` for its own use.

Reference provenance: the tier ladder realizes the reference's single
``Union[Cached, LowerBounded(partial)] -> Final`` physical plan
(``src/aggregate.rs:386-409``) at three cost points; the reference has one.
"""

from __future__ import annotations

import functools
import operator
import time
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .cache import StateCardinalityExceeded
from .functions.compile import to_column
from .plans.ir import AggSpec, Col, Lit, Unsupported
from .sources.tables import LOCAL_PARQUET_SOURCES

#: Summed on-disk source bytes under which a refresh collect narrows its
#: merge shuffle to 2 reduce tasks with AQE off (see
#: ``_narrow_refresh_ok``; measured −40% on the sf0.1 lite dyn refresh).
REFRESH_NARROW_MAX_BYTES = 64 << 20

#: cast targets (duckdb type ids) that make a literal an instant on the
#: temporal axis (``RefreshTiers._fold_temporal_literals``)
_INSTANT_CASTS = frozenset({"TIMESTAMP", "TIMESTAMP WITH TIME ZONE", "DATE"})


def _push_time_bounds(
    df: DataFrame,
    ts_col: str,
    shadow: str,
    lo_ns: Optional[int] = None,
    hi_ns: Optional[int] = None,
    pred: Optional[Column] = None,
    extra: Sequence[Column] = (),
    part_col: Optional[str] = None,
) -> DataFrame:
    """Exact ``[lo, hi)`` bounds on the temporal axis, shaped for pushdown.

    Exactness comes from the epoch-ns shadow when present. Pushdown comes
    from a REDUNDANT superset bound on the timestamp column itself: for
    µs/NTZ sources the shadow is a derived column (``unix_micros(ts)*1000``,
    ``sources/tables.py``), so ``shadow >= lit`` is an expression filter the
    parquet scan can't use — while ``ts >= timestamp_micros(lit)`` survives
    Spark's cast-unwrapping into ``PushedFilters`` (row-group pruning; the
    100 TB warm refresh reads only the fresh tail). Floor the lower / ceil
    the upper µs bound so it never excludes a row the ns bound admits; the
    conjunction is therefore exactly the ns range. Without a shadow the µs
    bound ceils BOTH ends so consecutive runs tile exactly. With
    ``part_col`` (a date-partition column) the dates covering the range
    (:func:`_partition_date_bounds`) join as plain comparisons on it, so
    whole partitions prune before any file opens.

    One scan, one ``.filter``: the caller's predicate ``pred`` (first), the
    bounds and any ``extra`` conditions (last) form a single conjunction,
    and the bounds are rendered as ONE SQL expression, like lite's
    ``_time_conds``. PySpark Classic analyzes the plan on every DataFrame
    op (~5 ms each on a layered refresh) and pays several py4j calls per
    Column op; Catalyst's ``CombineFilters`` gives the same physical plan
    as a chain of filters. Part of perfbench ``big_state``
    ``refresh_vs_plain`` (see ``CachedSparkSession._warm_merge``).

    Reference converts Arrow time units at the same boundary
    (``src/aggregate.rs:431-439``).
    """
    from pyspark.sql.types import TimestampNTZType, TimestampType

    types = {f.name: f.dataType for f in df.schema.fields}
    has_shadow = shadow in types
    ts_is_time = isinstance(
        types.get(ts_col), (TimestampType, TimestampNTZType)
    )

    def q(n: str) -> str:
        return "`" + n.replace("`", "``") + "`"

    ts, sh = q(ts_col), q(shadow)
    bounds: List[str] = []
    if lo_ns is not None:
        if has_shadow:
            bounds.append(f"{sh} >= {lo_ns}")
            if ts_is_time:
                bounds.append(f"{ts} >= timestamp_micros({lo_ns // 1000})")
        else:
            bounds.append(f"{ts} >= timestamp_micros({-(-lo_ns // 1000)})")
    if hi_ns is not None:
        hi_us = -(-hi_ns // 1000)
        if has_shadow:
            bounds.append(f"{sh} < {hi_ns}")
            if ts_is_time:
                bounds.append(f"{ts} < timestamp_micros({hi_us})")
        else:
            bounds.append(f"{ts} < timestamp_micros({hi_us})")
    if part_col is not None:
        lo_d, hi_d = _partition_date_bounds(lo_ns, hi_ns)
        if lo_d is not None:
            bounds.append(f"{q(part_col)} >= DATE'{lo_d.isoformat()}'")
        if hi_d is not None:
            bounds.append(f"{q(part_col)} <= DATE'{hi_d.isoformat()}'")
    conds = [] if pred is None else [pred]
    if bounds:
        conds.append(F.expr(" AND ".join(bounds)))
    conds.extend(extra)
    if not conds:
        return df
    return df.filter(functools.reduce(operator.and_, conds))


#: Java zone offsets lie within ±18 h (``ZoneOffset.MAX_SECONDS``)
_MAX_TZ_OFFSET_NS = 18 * 3600 * 10**9


def _partition_date_bounds(
    lo_ns: Optional[int], hi_ns: Optional[int]
) -> tuple:
    """Inclusive ``(lo, hi)`` dates on a date-partition column that cover
    the instants ``[lo_ns, hi_ns)`` (None for an open side). The partition
    column's dates were materialized under SOME session time zone,
    possibly not this session's: a row's date there is the UTC date of an
    instant at most 18 h from the row's own, so the bounds are the UTC
    dates of ``lo - 18 h`` and ``hi + 18 h`` and never exclude a qualifying
    partition. Pruning is an optimization; the exact ts bounds still
    filter rows. Found live: a Chicago-tz session over a UTC-built
    partition layout dropped a boundary-bucket row, and a UTC session
    over a Chicago-built one undercounted."""
    import datetime as _dt

    def utc_date(ns: int):
        us = _dt.timedelta(microseconds=ns // 1000)
        return (_dt.datetime(1970, 1, 1) + us).date()

    return (
        None if lo_ns is None else utc_date(lo_ns - _MAX_TZ_OFFSET_NS),
        None if hi_ns is None else utc_date(hi_ns + _MAX_TZ_OFFSET_NS),
    )


def _sql_utc_date(us_sql: str, sign: int) -> str:
    """SQL twin of one side of :func:`_partition_date_bounds`: the UTC date
    of the epoch-µs expression ``us_sql`` shifted by ``sign`` × 18 h
    (-1 for a lower bound, +1 for an upper one)."""
    shift = sign * _MAX_TZ_OFFSET_NS // 1000
    return (
        f"date_from_unix_date(CAST(floor(({us_sql} + ({shift})) "
        f"/ {86400 * 10**6}) AS INT))"
    )


def _merge_states(merges, a: Optional[dict], b: dict) -> dict:
    """Merge partial state ``b`` into ``a`` (None: nothing yet) with the
    driver tiers' Python merge mirrors."""
    if a is None:
        return dict(b)
    out = dict(a)
    for m in merges:
        out.update(m(a, b))
    return out


def _order_col(name: str, o) -> Column:
    """ORDER BY item → Column with explicit direction AND null order.

    NULLS FIRST/LAST must be honored: for maintained top-k state the sort
    decides which rows are RETAINED, so dropping the null order keeps wrong
    rows, not just displays them in a different order."""
    c = F.col(name)
    if o.nulls_first is None:
        return c.desc() if o.desc else c.asc()
    if o.desc:
        return c.desc_nulls_first() if o.nulls_first else c.desc_nulls_last()
    return c.asc_nulls_first() if o.nulls_first else c.asc_nulls_last()


@dataclass
class Decision:
    """What the planner did for one ``sql()`` call — the observability story
    (reference: decision log ``src/log.rs`` + ``EXPLAIN ANALYZE`` demo)."""

    sql: str
    cached: bool
    reason: str = ""
    fingerprint: Optional[str] = None
    cache_hit: bool = False
    watermark_ns: Optional[int] = None
    now_ns: Optional[int] = None
    #: the dynamic lower bound this run used — DUAL FORM: the EVALUATED
    #: f(now()) value (timestamp/date) on the nano and classic paths, or
    #: the rendered pinned-now SQL expression (string) on the lite path,
    #: which never evaluates the bound driver-side (that would cost a
    #: Spark job per refresh). Non-None ⇔ a dynamic bound was in play.
    dynamic_lower: Optional[object] = None
    observation: Optional[Observation] = None  # fresh-scan row count (hit only)
    #: which warm-refresh tier served a hit: aggregates — "nano" (driver
    #: pyarrow scan; every perfbench small_dashboard refresh), "lite" (one
    #: plain-sized job + driver merge; bench.py warm rows over plain views
    #: or with nano off), "classic" (DataFrame assembly; every shape or
    #: fallback the driver tiers refuse), or "bucket_topk" (a layered
    #: big-state top-k finalized from per-bucket summaries; the perfbench
    #: big_state refresh); filter queries — "nano" (driver top-k), "topk"
    #: (Spark-path top-k union+sort+limit), or "rowset" (appended row
    #: sets). On a miss
    #: (``cache_hit`` False): "nano" when the nano program computed the
    #: state, None for the classic compute-and-store
    refresh_tier: Optional[str] = None
    #: exact fresh-row count when a driver tier (nano, lite) ran: both
    #: count the rows their own scan admitted instead of via an Observation
    fresh_rows_value: Optional[int] = None
    #: fingerprint of the WEAKER filter entry a miss was served from
    #: (semantic-cache subsumption), when that happened
    semantic_donor: Optional[str] = None
    #: True when a hot read was answered from the session's result memo
    #: (zero Spark work — not even a local finalize job)
    served_from_memo: bool = False

    def fresh_rows(self) -> Optional[int]:
        """Rows scanned by the incremental refresh (the reference's
        ``EXPLAIN ANALYZE`` row-count oracle, ``examples/demo.rs:52-63``).
        None when unavailable."""
        if self.fresh_rows_value is not None:
            return self.fresh_rows_value
        if self.observation is None:
            return None
        try:
            return self.observation.get.get("rows")
        except Exception:
            return None



class RefreshTiers:
    """Mixin holding the nano/lite tier builders and runners.

    ``CachedSparkSession`` subclasses this; every method runs with ``self``
    being the live session wrapper (``self.spark``, ``self.config``,
    ``self.cache`` etc. are defined there).
    """

    def _sql_of(self, col: Column) -> str:
        """Render a compiled Column back to parseable SQL text via the JVM
        expression converter. Paid ONCE per lite program build; lets its
        Spark job run as a single ``spark.sql`` call instead of hundreds of
        py4j DataFrame-building round-trips per refresh."""
        return self.spark._jsparkSession.expression(col._jc).sql()

    def _tpl_core(
        self,
        spec: AggSpec,
        state_group,
        group_names: List[str],
        pred: Optional[Column],
        ts_col: str,
        state_schema,
        tables: List[str],
    ) -> dict:
        """SQL fragments of the lite tier's one Spark job: the quoting
        helper, group-key SQL, FROM clause (fact table + join steps),
        predicate and GROUP BY text, rendered once per program build."""
        sql_of = self._sql_of

        def q(n: str) -> str:
            return "`" + n.replace("`", "``") + "`"

        def qt(n: str) -> str:
            # a table name is a multi-part identifier: quote each dotted
            # part (`default`.`t`), since `default.t` names no table
            return ".".join(q(part) for part in n.split("."))

        g_sql = {g.name: sql_of(to_column(g.expr)) for g in state_group}

        # FROM: fact table, then the left-deep join steps (same static-dims
        # refresh contract as the DataFrame path)
        from_sql = qt(tables[0])
        for step in spec.join_steps:
            if step.using:
                kw = "LEFT JOIN" if step.how == "left" else "JOIN"
                cols = ", ".join(q(u) for u in step.using)
                from_sql += f" {kw} {qt(step.table)} USING ({cols})"
            elif step.on is None:
                from_sql += f" CROSS JOIN {qt(step.table)}"
            else:
                kw = "LEFT JOIN" if step.how == "left" else "JOIN"
                from_sql += f" {kw} {qt(step.table)} ON {sql_of(to_column(step.on))}"

        ts_is_ts = False
        try:
            from pyspark.sql.types import TimestampNTZType, TimestampType

            ts_type = dict(
                (f.name, f.dataType)
                for f in self.spark.table(tables[0]).schema.fields
            ).get(ts_col)
            ts_is_ts = isinstance(ts_type, (TimestampType, TimestampNTZType))
        except Exception:
            pass  # pushdown companion is an optimization, never required

        return {
            "q": q,
            "g_sql": g_sql,
            "dtypes": {f.name: f.dataType for f in state_schema.fields},
            "from_sql": from_sql,
            "pred_sql": f"({sql_of(pred)})" if pred is not None else None,
            "gb_exprs": ", ".join(g_sql[n] for n in group_names),
            "ts_is_ts": ts_is_ts,
        }

    def _narrow_refresh_ok(self, spec) -> bool:
        """Should this refresh job narrow its merge shuffle to 2 tasks?

        Only when the TOTAL on-disk size of every source table is known
        driver-side (registered through ``register_parquet_view``) and fits
        ``REFRESH_NARROW_MAX_BYTES``. Below the gate the refresh
        scan is tiny and 8+ reduce tasks plus AQE re-planning rounds are
        pure scheduling overhead (sf0.1 A/B: width 8 → 2 cut the lite dyn
        refresh −40%). Above it — or for any source whose size we cannot
        see — the fresh-window + boundary-bucket scan grows with the data
        and the narrowed exchange becomes the bottleneck (x1000 A/B: the
        unconditional width-2 pin DOUBLED the dyn warm refresh, 0.53s@8 vs
        1.03s@2), so the session's own shuffle settings and AQE coalescing
        stay in charge. Sizes are memoized per path for 60s — the walk is
        O(files) driver-side and sources grow over time."""
        if spec is None:
            return False
        from .nano import _source_bytes

        total = 0
        now = time.monotonic()
        for t in spec.tables or (spec.table,):
            src = LOCAL_PARQUET_SOURCES.get(t)
            if src is None:
                return False
            path = src["path"]
            memo = self._src_bytes_memo.get(path)
            if memo is None or now - memo[1] > 60.0:
                try:
                    memo = (_source_bytes(path), now)
                except Exception:
                    return False
                self._src_bytes_memo[path] = memo
            total += memo[0]
            if total > REFRESH_NARROW_MAX_BYTES:
                return False
        return True

    def _refresh_frame(self, df: DataFrame, spec) -> DataFrame:
        """``df`` rebound onto the session its refresh collect runs on.

        AQE materializes every exchange of a refresh plan as its own Spark
        stage-job (~0.15 s scheduling each — 3 per collect on the x1000
        FULL-composite halves), so small refreshes run on an AQE-off
        execution clone (``spread.exec_session``), never by flipping the
        caller's session conf:

        - the width-2 clone when ``_narrow_refresh_ok`` passes (small
          registered sources: the merge shuffle carries O(state) rows);
        - the parent-width clone when ``df``'s optimized plan is estimated
          small (``is_small_input`` — pruned-partition bytes, driver
          metadata, no job). ``df`` must be the frame BEFORE the collect
          LIMIT: Catalyst caps a LIMIT's estimate, so any plan looks small
          through one;
        - the caller's session, AQE on, otherwise — the 100 TB case — or
          when cloning or the plan transfer fails."""
        from .operators.spread import exec_session, is_small_input, on_session

        try:
            if self._narrow_refresh_ok(spec):
                clone = exec_session(df.sparkSession, width=2)
            elif is_small_input(df):
                clone = exec_session(df.sparkSession)
            else:
                return df
            return on_session(df, clone)
        except Exception:
            return df

    def _refresh_to_arrow(self, df: DataFrame, cap: int, spec):
        """Collect at most ``cap + 1`` rows of the refresh frame ``df`` via
        Arrow, on the session ``_refresh_frame`` picks."""
        return self._refresh_frame(df, spec).limit(cap + 1).toArrow()

    @staticmethod
    def _time_conds(
        q,
        ts_col: str,
        shadow_ok: bool,
        ts_is_ts: bool,
        part_col: Optional[str],
        p: str,
    ) -> List[str]:
        """Window conditions ``[lo, hi)`` with ``p``-prefixed placeholder
        tokens: exact on the epoch-ns shadow when present (plus redundant
        PUSHABLE µs bounds on the timestamp itself — floored lower, ceiled
        upper, so the superset never drops an admitted row), µs bounds
        otherwise, plus partition-column date bounds. The token twin of
        ``_push_time_bounds``."""
        conds = []
        if shadow_ok:
            shadow = q(f"{ts_col}_ns")
            if ts_is_ts:
                # µs-aligned watermarks make the pushable µs bounds EXACT
                # (ts_ns ≥ 1000k ⟺ µs(ts) ≥ k for any integer ts_ns), so
                # the guard token becomes `true` at substitution time when
                # both bounds are multiples of 1000 and BooleanSimplification
                # erases the per-row ns conds; misaligned bounds keep the
                # exact ns tiling (guard `false`)
                conds.append(
                    f"(__QC_{p}NSG__ OR ({shadow} >= __QC_{p}LO_NS__ "
                    f"AND {shadow} < __QC_{p}HI_NS__))"
                )
                conds.append(f"{q(ts_col)} >= timestamp_micros(__QC_{p}LO_USF__)")
                conds.append(f"{q(ts_col)} < timestamp_micros(__QC_{p}HI_USC__)")
            else:
                conds.append(f"{shadow} >= __QC_{p}LO_NS__")
                conds.append(f"{shadow} < __QC_{p}HI_NS__")
        else:
            conds.append(f"{q(ts_col)} >= timestamp_micros(__QC_{p}LO_USC__)")
            conds.append(f"{q(ts_col)} < timestamp_micros(__QC_{p}HI_USC__)")
        if part_col:
            conds.append(f"{q(part_col)} >= DATE'__QC_{p}LO_D__'")
            conds.append(f"{q(part_col)} <= DATE'__QC_{p}HI_D__'")
        return conds

    @staticmethod
    def _sub_time_tokens(sql: str, p: str, lo_ns: int, hi_ns: int) -> str:
        # guard erasure also requires NON-NEGATIVE bounds: ns sources derive
        # µs ts via `div 1000`, which truncates toward zero — for pre-1970
        # (negative-epoch) values trunc != floor, so the "µs bounds are
        # exact" equivalence the guard relies on breaks below epoch 0
        aligned = lo_ns % 1000 == 0 and hi_ns % 1000 == 0 and lo_ns >= 0
        sql = sql.replace(f"__QC_{p}NSG__", "true" if aligned else "false")
        sql = sql.replace(f"__QC_{p}LO_NS__", str(lo_ns))
        sql = sql.replace(f"__QC_{p}HI_NS__", str(hi_ns))
        sql = sql.replace(f"__QC_{p}LO_USF__", str(lo_ns // 1000))
        sql = sql.replace(f"__QC_{p}LO_USC__", str(-(-lo_ns // 1000)))
        sql = sql.replace(f"__QC_{p}HI_USC__", str(-(-hi_ns // 1000)))
        if f"__QC_{p}LO_D__" in sql:
            lo_d, hi_d = _partition_date_bounds(lo_ns, hi_ns)
            sql = sql.replace(f"__QC_{p}LO_D__", lo_d.isoformat())
            sql = sql.replace(f"__QC_{p}HI_D__", hi_d.isoformat())
        return sql

    def _dyn_scan_core(
        self,
        core: dict,
        ts_col: str,
        shadow_ok: bool,
        part_col: Optional[str],
        bucket_name: str,
        bucket_gran: str,
        dyn_op: str,
    ) -> dict:
        """Combined fresh-tail + boundary-bucket scan of the dynamic lite
        program.

        ONE pass over the fact table covers both the fresh tail [wm, now)
        and the boundary-bucket recompute: the WHERE
        keeps a PUSHABLE OR-of-ranges conjunct — both ranges reach parquet
        row-group stats and partition pruning, so at scale the pruned set
        is exactly (fresh-tail partitions) ∪ (boundary-bucket partitions),
        the same I/O as two scans — plus the exact row conditions exposed
        as the ``qif``/``qib`` boolean columns.

        The bound, its bucket, and the bucket end are all EXPRESSIONS over
        the pinned-now rhs (token ``__QC_RHS__``, rendered per call):
        Catalyst constant-folds them to literals before pushdown/pruning,
        so no driver-side evaluation job runs per refresh.

        Pushdown invariant: the boundary side folds the dynamic comparison
        (``ts {op} rhs``) into its range's lower bound and — for
        calendar-exact bucket caps — drops the bucket-equality predicate
        entirely (the range [rhs, bucket_end) lies inside the boundary
        bucket by construction, so the equality is implied). That leaves
        the exact boundary conds ATOM-IDENTICAL to the pushable ones: the
        optimizer's distributive rewrite ``(A∨B)∧(A∨C) → A∨(B∧C)`` then
        yields a single all-translatable Or, and the OR-of-ranges reaches
        parquet PushedFilters. With an untranslatable leaf in the exact
        side (the sub-day slack / unknown-granularity cases keep the
        bucket equality), the same rewrite would fuse it into the Or and
        silently kill scan pushdown for BOTH ranges.
        """
        q = core["q"]
        g_sql = core["g_sql"]
        bucket_dt = core["dtypes"][bucket_name].simpleString()
        rhs = "__QC_RHS__"
        low_ts = f"CAST({rhs} AS TIMESTAMP)"
        bnd_trunc = f"date_trunc('{bucket_gran}', {rhs})"
        bnd_lit = f"CAST({bnd_trunc} AS {bucket_dt})"
        op = ">" if dyn_op == ">" else ">="
        iv = self._BUCKET_INTERVAL.get(bucket_gran.lower())
        if iv is not None:
            bend = f"CAST({bnd_trunc} + {iv} AS TIMESTAMP)"
            if bucket_gran.lower() in ("minute", "hour"):
                # sub-day buckets: widen the scan cap by 1h so a repeated
                # DST fall-back hour in a non-UTC session tz cannot drop
                # rows from the boundary recompute; the bucket-equality
                # predicate below keeps the result exact either way.
                # Day-and-coarser buckets get this from date_trunc+INTERVAL
                # calendar arithmetic directly.
                bend = f"{bend} + INTERVAL '1' HOUR"
            bend_us = f"unix_micros({bend})"
            bhi_ns = f"least(CAST(__QC_FHI_NS__ AS BIGINT), {bend_us} * 1000)"
            bhi_us = f"least(CAST(__QC_FHI_USC__ AS BIGINT), {bend_us})"
        else:
            bhi_ns = "__QC_FHI_NS__"
            bhi_us = "__QC_FHI_USC__"

        exact_cap = iv is not None and bucket_gran.lower() not in (
            "minute", "hour",
        )
        f_exact = self._time_conds(
            q, ts_col, shadow_ok, core["ts_is_ts"], None, "F"
        )
        b_exact: List[str] = []
        if shadow_ok:
            shadow = q(f"{ts_col}_ns")
            if core["ts_is_ts"]:
                # the lower ns bound (unix_micros * 1000) is µs-aligned by
                # construction; the upper is aligned whenever now is, so
                # the F-window guard token also erases these ns conds
                b_exact.append(
                    f"(__QC_FNSG__ OR ({shadow} >= unix_micros({low_ts}) "
                    f"* 1000 AND {shadow} < {bhi_ns}))"
                )
                b_exact.append(f"{q(ts_col)} {op} {low_ts}")
                b_exact.append(f"{q(ts_col)} < timestamp_micros({bhi_us})")
                push_f = (
                    f"({q(ts_col)} >= timestamp_micros(__QC_FLO_USF__) "
                    f"AND {q(ts_col)} < timestamp_micros(__QC_FHI_USC__))"
                )
                push_b = (
                    f"({q(ts_col)} {op} {low_ts} "
                    f"AND {q(ts_col)} < timestamp_micros({bhi_us}))"
                )
            else:
                b_exact.append(f"{shadow} >= unix_micros({low_ts}) * 1000")
                b_exact.append(f"{shadow} < {bhi_ns}")
                b_exact.append(f"{q(ts_col)} {op} {rhs}")
                push_f = (
                    f"({shadow} >= __QC_FLO_NS__ AND {shadow} < __QC_FHI_NS__)"
                )
                push_b = (
                    f"({shadow} >= unix_micros({low_ts}) * 1000 "
                    f"AND {shadow} < {bhi_ns})"
                )
        else:
            b_exact.append(f"{q(ts_col)} {op} {low_ts}")
            b_exact.append(f"{q(ts_col)} < timestamp_micros({bhi_us})")
            push_f = (
                f"({q(ts_col)} >= timestamp_micros(__QC_FLO_USC__) "
                f"AND {q(ts_col)} < timestamp_micros(__QC_FHI_USC__))"
            )
            push_b = (
                f"({q(ts_col)} {op} {low_ts} "
                f"AND {q(ts_col)} < timestamp_micros({bhi_us}))"
            )
        if not exact_cap:
            b_exact.append(f"{g_sql[bucket_name]} = {bnd_lit}")

        # inner subquery: pushable range filters + the two exact-range
        # booleans computed ONCE as columns (the SQL text and the per-row
        # work would otherwise repeat each range condition three times)
        in_fresh = "(" + " AND ".join(f_exact) + ")"
        in_bnd = "(" + " AND ".join(b_exact) + ")"
        inner_conds = [core["pred_sql"]] if core["pred_sql"] else []
        inner_conds.append(f"({push_f} OR {push_b})")
        if part_col:
            # partition-pruning disjunct: each range's date bounds, OR'd —
            # all leaves are plain comparisons, so the OR stays prunable.
            # The boundary leg's dates follow _partition_date_bounds (UTC
            # dates of lo - 18 h and hi + 18 h), rendered in SQL over the
            # pinned-now bound, which Catalyst constant-folds
            b_lo_d = _sql_utc_date(f"unix_micros({low_ts})", -1)
            b_hi_d = _sql_utc_date(bhi_us, 1)
            inner_conds.append(
                f"(({q(part_col)} >= DATE'__QC_FLO_D__' AND "
                f"{q(part_col)} <= DATE'__QC_FHI_D__') OR "
                f"({q(part_col)} >= {b_lo_d} AND {q(part_col)} <= {b_hi_d}))"
            )
        qif, qib = q("__qc_if"), q("__qc_ib")
        inner_sql = (
            f"SELECT *, {in_fresh} AS {qif}, {in_bnd} AS {qib} "
            f"FROM {core['from_sql']} WHERE {' AND '.join(inner_conds)}"
        )
        return {
            "rhs": rhs,
            "low_ts": low_ts,
            "bnd_lit": bnd_lit,
            "bucket_dt": bucket_dt,
            "qif": qif,
            "qib": qib,
            "inner_sql": inner_sql,
        }

    def _lite_template(
        self,
        pkey,
        fingerprint: str,
        spec: AggSpec,
        plans,
        state_group,
        group_names: List[str],
        state_cols: List[str],
        partial_aggs: Dict[str, Column],
        merge_aggs: Dict[str, Column],
        pred: Optional[Column],
        ts_col: str,
        shadow_ok: bool,
        part_col: Optional[str],
        state_schema,
        tables: List[str],
        dyn_bound=None,
        bucket_name: Optional[str] = None,
        bucket_gran: Optional[str] = None,
    ) -> Optional[dict]:
        """Memoized lite-tier program: a PLAIN-SIZED Spark job plus an
        O(state) driver merge.

        The job runs only the distributed part Spark is needed for — the
        fresh-window scan with pushable watermark conds, partially
        aggregated at the state groups — and the driver folds the handful
        of returned partial rows into the state with exact Python mirrors
        of the merge/finalize semantics (``partial.py`` ``lite_plan``; the
        reference merges accumulator state in-engine the same way,
        ``src/aggregate.rs:402-409``). One scan, one small shuffle, a plan
        the size of plain's, and no second aggregate; the partial
        aggregate stays in SQL, so any group keys, predicates, joins and
        expression arguments qualify once merge and finalize have mirrors.

        A static window's state granularity IS the query's, so the whole
        refreshed state finalizes. A dynamic bound (``dyn_bound``) needs
        the bucket among the query's groups: the refreshed state rows above
        the boundary bucket ARE result rows, and the same job also
        recomputes the boundary bucket (``_dyn_scan_core``'s one-pass
        OR-of-ranges scan, split into disjoint range cells).

        Admission, else None and the classic DataFrame program serves:
        every aggregate and finalize shape has an exact Python mirror
        (count/sum/min/max/avg over non-decimal input, the central-moment
        families; bare calls, ``+ - * /``, HALF_UP round); no grouping
        sets; no float-typed or nested group keys (Python dict keys must
        hash like SQL equality); no ltz timestamps in a dynamic program's
        state or output (the boundary compare assumes tz-free values). At
        100 TB the scan stays distributed with parquet pushdown and
        pruning; only O(state) rows cross the driver (the caller's
        ``state_is_local`` gate)."""
        kind = "static" if dyn_bound is None else "dyn"
        key = (kind + "lite", *pkey, state_schema.simpleString())
        if key in self._tpl_cache:
            return self._tpl_cache[key]
        tpl = None
        try:
            if dyn_bound is not None and bucket_name not in [
                g.name for g in spec.group_by
            ]:
                raise Unsupported("cross-bucket merge (bucket not grouped)")
            tpl = self._driver_base(
                spec, plans, group_names, state_cols, merge_aggs,
                state_schema, allow_ltz=dyn_bound is None,
            )
            if tpl is None:
                raise Unsupported("no exact driver merge for this shape")
            core = self._tpl_core(
                spec, state_group, group_names, pred, ts_col, state_schema,
                tables,
            )
            q = core["q"]
            items = [f"{core['g_sql'][n]} AS {q(n)}" for n in group_names] + [
                f"{self._sql_of(partial_aggs[n])} AS {q(n)}"
                for n in tpl["partial_cols"]
            ]
            if dyn_bound is None:
                conds = self._time_conds(
                    q, ts_col, shadow_ok, core["ts_is_ts"], part_col, "F"
                )
                if core["pred_sql"]:
                    conds.insert(0, core["pred_sql"])
                tpl["sql"] = (
                    f"SELECT {', '.join(items)}, count(1) AS {q('__qc_nr')} "
                    f"FROM {core['from_sql']} WHERE {' AND '.join(conds)}"
                    # global aggregate: no GROUP BY clause (an empty
                    # expression list would be a ParseException that
                    # permanently nulls this memo — a silent tier loss)
                    + (f" GROUP BY {core['gb_exprs']}" if group_names else "")
                )
            else:
                self._add_dyn_bucket(tpl, group_names, bucket_name, bucket_gran)
                sc = self._dyn_scan_core(
                    core, ts_col, shadow_ok, part_col, bucket_name,
                    bucket_gran, dyn_bound.op,
                )
                qif, qib = sc["qif"], sc["qib"]
                # disjoint range cells — no row is double-counted: 2 =
                # fresh tail only, 1 = boundary recompute only, 3 = both.
                # The driver folds {2,3} into the state update and {1,3}
                # into the boundary result.
                cell = (
                    f"(CASE WHEN {qif} AND {qib} THEN 3 "
                    f"WHEN {qif} THEN 2 ELSE 1 END)"
                )
                tpl["sql"] = (
                    f"SELECT {', '.join(items)}, "
                    f"count(1) AS {q('__qc_nr')}, "
                    f"any_value({sc['bnd_lit']}) AS {q('__qc_bnd')}, "
                    f"{cell} AS {q('__qc_cell')} "
                    f"FROM ({sc['inner_sql']}) __qc_s WHERE {qif} OR {qib} "
                    f"GROUP BY {core['gb_exprs']}, {cell}"
                )
            tpl["key"] = key
        except Exception as e:
            self.config.log.info(
                fingerprint,
                f"{kind} lite tier not available ({e}); using classic plan",
            )
            tpl = None
        if len(self._tpl_cache) >= self._MEMO_MAX:
            self._tpl_cache.clear()
        self._tpl_cache[key] = tpl
        return tpl

    @staticmethod
    def _add_dyn_bucket(base: dict, group_names, bucket_name, bucket_gran):
        """The dynamic-bound driver merge's bucket fields, in place."""
        from pyspark.sql.types import DateType

        st_fields = {f.name: f.dataType for f in base["state_schema"].fields}
        base["bucket_idx"] = group_names.index(bucket_name)
        base["bucket_gran"] = bucket_gran
        base["bucket_is_date"] = isinstance(st_fields[bucket_name], DateType)

    def _driver_base(
        self,
        spec: AggSpec,
        plans,
        group_names: List[str],
        state_cols: List[str],
        merge_aggs: Dict[str, Column],
        state_schema,
        allow_ltz: bool,
        state_frame: Optional[DataFrame] = None,
    ) -> Optional[dict]:
        """Driver-merge scaffolding shared by the lite and nano tiers: the
        Python merge/finalize program and the output/state Arrow schemas,
        from a schema probe over ``state_frame`` (any frame of schema
        ``state_schema``; a zero-row one when None) — analysis only, no
        job. None ⇔ some shape has no exact Python mirror."""
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            FloatType,
            MapType,
            StructType,
            TimestampType,
        )

        from .functions.partial import lite_plan

        if spec.grouping_sets:
            return None
        layout = self._fused_layout(spec)
        if layout is None:
            return None
        out_names, order_names, extra_names = layout
        lp = lite_plan(plans)
        if lp is None:
            return None

        st_fields = {f.name: f.dataType for f in state_schema.fields}
        for g in group_names:
            dt = st_fields[g]
            if isinstance(dt, (FloatType, DoubleType, ArrayType, MapType,
                               StructType)):
                return None  # Python-key hashing differs from SQL equality
        if not allow_ltz:
            for f in state_schema.fields:
                if isinstance(f.dataType, TimestampType):
                    return None  # ltz: tz-dependent driver arithmetic

        # output dtypes via a schema probe (analysis only, no job)
        st0 = state_frame
        if st0 is None:
            st0 = self.spark.createDataFrame([], state_schema)
        merged0 = st0.groupBy(*[F.col(n) for n in group_names]).agg(
            *[c.alias(n) for n, c in merge_aggs.items()]
        )
        fin_by = {p.name: p.finalize for p in plans}
        res_names = out_names + extra_names
        out0 = merged0.select(
            *[fin_by[nm] if nm in fin_by else F.col(nm) for nm in res_names]
        )
        out_fields = list(out0.schema.fields)
        if not allow_ltz:
            for f in out_fields:
                if isinstance(f.dataType, TimestampType):
                    return None
        out_arrow = to_arrow_schema(StructType(out_fields))
        state_arrow = to_arrow_schema(state_schema)

        return {
            "group_names": group_names,
            "partial_cols": [n for n in state_cols if n not in group_names],
            "merges": lp["merges"],
            "fins": lp["fins"],
            "out_names": out_names,
            "extra_names": extra_names,
            "order_names": order_names,
            "res_names": res_names,
            "name_to_group": {g: i for i, g in enumerate(group_names)},
            "out_fields": out_fields,
            "out_arrow": out_arrow,
            "state_arrow": state_arrow,
            "state_schema": state_schema,
        }

    def _run_lite(
        self,
        tpl: dict,
        entry,
        cached_state: DataFrame,
        wm_ns: int,
        now_ns: int,
        dyn_rhs,
        decision: Decision,
        spec: AggSpec,
    ) -> Optional[DataFrame]:
        """Execute a lite program: one plain-sized Spark job, then the
        O(state) merge/finalize on the driver. ``dyn_rhs`` is the dynamic
        bound's right side (None: static — no boundary bucket, every
        scanned row in the fresh cell). Bench rows it wins: ``bench.py``'s
        ``qc_x1000_warm`` / ``qc_dyn_x1000_warm`` (plain views, which nano
        cannot read) and ``qc_warm_dist`` / ``qc_dyn_warm_dist`` (nano
        off), which the classic program would serve with a union, a merge
        shuffle and a second aggregate. Overflow past the collect cap, an
        inexact mirror or any failure returns None: the classic program
        re-runs the refresh."""
        import datetime as _dt

        kind = "static" if dyn_rhs is None else "dyn"
        try:
            sql = tpl["sql"]
            if dyn_rhs is not None:
                rhs_sql = f"({self._sql_of(to_column(self._pin_now(dyn_rhs, now_ns)))})"
                # the rendered pinned bound (evaluating it here would cost
                # a driver-local Spark job; Catalyst constant-folds it)
                decision.dynamic_lower = rhs_sql
                sql = sql.replace("__QC_RHS__", rhs_sql)
            sql = self._sub_time_tokens(sql, "F", wm_ns, now_ns)
            df = self.spark.sql(sql)
            self.last_refresh_df = df
            # burst bound: a refresh window that explodes group cardinality
            # falls through to the classic program (whose store spills to
            # the distributed path), no poisoning
            cap = getattr(entry, "DRIVER_COLLECT_MAX_ROWS", 500_000)
            scan_tbl = self._refresh_to_arrow(df, cap, spec)
            if scan_tbl.num_rows > cap:
                self.config.log.warn(
                    decision.fingerprint or "",
                    f"lite refresh grew past {cap} rows; classic fallback",
                )
                return None

            state = self._load_driver_state(tpl, entry, cached_state)
            gnames = tpl["group_names"]
            pcols = tpl["partial_cols"]
            merges = tpl["merges"]
            fresh: dict = {}
            bnd: dict = {}
            boundary = None
            fresh_rows = 0
            for r in scan_tbl.to_pylist():
                key = tuple(r[g] for g in gnames)
                st = {c: r[c] for c in pcols}
                cell = r.get("__qc_cell", 2)
                if cell >= 2:  # cells 2, 3: fresh tail
                    fresh[key] = _merge_states(merges, fresh.get(key), st)
                    fresh_rows += r["__qc_nr"]
                if cell in (1, 3):  # boundary recompute
                    bnd[key] = _merge_states(merges, bnd.get(key), st)
                if dyn_rhs is not None:
                    boundary = r["__qc_bnd"]
            decision.fresh_rows_value = int(fresh_rows)

            if dyn_rhs is not None and boundary is None:
                # zero admitted rows: evaluate the boundary bucket directly
                ev = self._eval_bound_and_bucket(
                    dyn_rhs, now_ns, tpl["bucket_gran"]
                )
                boundary = ev[1]
                if tpl["bucket_is_date"] and isinstance(boundary, _dt.datetime):
                    boundary = boundary.date()

            res = self._finish_dyn_driver(
                tpl, entry, now_ns, decision, spec, state, fresh, bnd,
                boundary,
            )
            decision.refresh_tier = "lite"
            return res
        except StateCardinalityExceeded:
            raise  # cap trip: sql() registers the denial (cap contract)
        except Exception as e:
            self._tpl_cache[tpl["key"]] = None
            self.config.log.warn(
                decision.fingerprint or "",
                f"{kind} lite warm path failed ({e}); classic fallback",
            )
            return None

    def _load_driver_state(self, tpl: dict, entry, cached_state: DataFrame):
        """Current state rows as {group key tuple: {state col: value}}."""
        st_tbl = entry.get_arrow()
        if st_tbl is None:
            st_tbl = cached_state.toArrow()
        gnames = tpl["group_names"]
        pcols = tpl["partial_cols"]
        return {
            tuple(r[g] for g in gnames): {c: r[c] for c in pcols}
            for r in st_tbl.to_pylist()
        }

    def _finish_dyn_driver(
        self,
        tpl: dict,
        entry,
        now_ns: int,
        decision: Decision,
        spec: AggSpec,
        state: dict,
        fresh: dict,
        bnd: dict,
        boundary,
    ) -> DataFrame:
        """Shared driver tail of the nano and lite tiers: fold the fresh
        partials into the state, finalize the result rows (full buckets
        above the boundary from the refreshed state + the recomputed
        boundary bucket), and store back. Store-back runs only after the
        result is safely built — a store failure leaves the old state +
        watermark intact (the next refresh rescans from the old
        watermark, exactly)."""
        import pyarrow as pa

        gnames = tpl["group_names"]
        new_state = dict(state)
        for k, st in fresh.items():
            new_state[k] = _merge_states(tpl["merges"], new_state.get(k), st)

        fins = tpl["fins"]
        n2g = tpl["name_to_group"]
        # HAVING applies at result granularity: the Python mirror filters
        # finalized rows (SQL keeps only TRUE; UNKNOWN/FALSE drop)
        having = fins.get("__qc_having")

        def keep(st):
            return having is None or having(st) is True

        def mk_row(key, st):
            return {
                nm: key[n2g[nm]] if nm in n2g else fins[nm](st)
                for nm in tpl["res_names"]
            }

        if boundary is None:
            # static window: the refreshed state IS the result
            rows = [
                mk_row(k, st) for k, st in new_state.items() if keep(st)
            ]
        else:
            bidx = tpl["bucket_idx"]
            rows = [
                mk_row(k, st)
                for k, st in new_state.items()
                if k[bidx] is not None and k[bidx] > boundary and keep(st)
            ]
            rows.extend(
                mk_row(k, st) for k, st in bnd.items() if keep(st)
            )
        res_tbl = pa.Table.from_pylist(rows, schema=tpl["out_arrow"])
        # having already applied above: hand _arrow_result a having-free
        # spec so it doesn't treat the last column as a filter flag
        import dataclasses as _dc

        fin_spec = (
            _dc.replace(spec, having=None) if spec.having is not None else spec
        )
        res = self._arrow_result(
            res_tbl, tpl["out_fields"], 0, fin_spec,
            tpl["out_names"], tpl["extra_names"], tpl["order_names"],
        )

        try:
            # an empty starting state (a cold load) always writes: the
            # entry may hold stale state that advancing would keep
            if fresh or not state or not entry.advance_watermark(now_ns):
                state_rows = []
                for k, st in new_state.items():
                    d = {g: k[i] for i, g in enumerate(gnames)}
                    d.update(st)
                    state_rows.append(d)
                stt = pa.Table.from_pylist(
                    state_rows, schema=tpl["state_arrow"]
                )
                entry.put_arrow(now_ns, stt, tpl["state_schema"])
        except StateCardinalityExceeded:
            # cap trip must surface: sql() registers the session denial
            # and degrades the query to passthrough, per the cap contract
            raise
        except Exception as e:
            self.config.log.warn(
                decision.fingerprint or "",
                f"dyn driver store-back failed ({e}); "
                "state/watermark unchanged",
            )
        return res

    def _nano_template(
        self,
        pkey,
        fingerprint: str,
        spec: AggSpec,
        plans,
        state_group,
        group_names: List[str],
        state_cols: List[str],
        merge_aggs: Dict[str, Column],
        state_frame: DataFrame,
        tables: List[str],
        ts_col: str,
        pred_expr,
        dyn_bound=None,
        bucket_name: Optional[str] = None,
        bucket_gran: Optional[str] = None,
    ) -> Optional[dict]:
        """Memoized nano-tier program: the driver merge base plus a
        bytes-gated pyarrow scan in place of a Spark job (``nano.py``).
        Simple residual predicates ride as exact pyarrow mask mirrors,
        including static bounds on the temporal column such as the paper's
        ``ts > '2000-01-01'``, whose literals ``_fold_temporal_literals``
        folds once per build. Static programs admit ltz time-bucket groups
        (UTC session gate: the aware instants equal the naive UTC floor);
        dynamic-bound ones (``dyn_bound``) need the bucket among the
        query's groups. ``state_frame`` is any frame of the state schema
        (the stored state, or the frame a classic miss would store): the
        output-schema probe runs over it. Bench rows it wins: every
        ``small_dashboard`` refresh and cold load, which otherwise pay the
        lite tier's or the classic miss's Spark jobs."""
        from pyspark.sql.types import TimestampType

        from .nano import build_nano_program

        state_schema = state_frame.schema
        kind = "static" if dyn_bound is None else "dyn"
        key = (kind + "nano", *pkey, state_schema.simpleString())
        if not self._nano_tz_ok(fingerprint):
            return None  # bypass (memo untouched: resumes if tz → UTC)
        if key in self._tpl_cache:
            return self._tpl_cache[key]
        tpl = None
        try:
            if dyn_bound is not None and bucket_name not in [
                g.name for g in spec.group_by
            ]:
                raise Unsupported("cross-bucket merge (bucket not grouped)")
            tpl = self._driver_base(
                spec, plans, group_names, state_cols, merge_aggs,
                state_schema, allow_ltz=dyn_bound is None,
                state_frame=state_frame,
            )
            if tpl is None:
                raise Unsupported("no exact driver merge for this shape")
            folded = self._fold_temporal_literals(pred_expr, ts_col)
            if dyn_bound is None:
                group_ltz = {
                    f.name
                    for f in state_schema.fields
                    if f.name in group_names
                    and isinstance(f.dataType, TimestampType)
                }
                prog = build_nano_program(
                    tables[0], ts_col, state_group, plans, None, None, ">",
                    None, False, self.config.nano_refresh_max_bytes,
                    pred_expr=folded, group_ltz=group_ltz, static=True,
                    join_steps=spec.join_steps,
                )
            else:
                self._add_dyn_bucket(tpl, group_names, bucket_name, bucket_gran)
                prog = build_nano_program(
                    tables[0], ts_col, state_group, plans, bucket_name,
                    bucket_gran, dyn_bound.op, dyn_bound.rhs,
                    tpl["bucket_is_date"], self.config.nano_refresh_max_bytes,
                    pred_expr=folded, join_steps=spec.join_steps,
                )
            tpl["nano"] = prog
            tpl["table"] = tables[0]
            tpl["key"] = key
        except Exception as e:
            self.config.log.info(
                fingerprint,
                f"{kind} nano tier not available ({e}); trying lite",
            )
            tpl = None
        if len(self._tpl_cache) >= self._MEMO_MAX:
            self._tpl_cache.clear()
        self._tpl_cache[key] = tpl
        return tpl

    def _run_nano(
        self,
        tpl: dict,
        entry,
        state_frame: DataFrame,
        wm_ns: Optional[int],
        now_ns: int,
        dyn_rhs,
        decision: Decision,
        spec: AggSpec,
    ) -> Optional[DataFrame]:
        """Execute a nano program: NO Spark job — a pyarrow row-group-
        pruned scan of the bytes-gated local source, vectorized partial
        aggregation, and the shared driver merge/finalize/store tail.
        ``dyn_rhs`` is the dynamic bound's right side (None: static).

        ``wm_ns=None`` is a cold load: no stored state, no lower scan
        bound, and the partial groups — the whole state — must fit the
        entry's driver-collect cap. Its refusals (that cap, a pre-1970 ns
        row) concern the whole-history scan only, so unlike a refresh's
        they leave the memoized program for later refreshes."""
        import datetime as _dt

        kind = "static" if dyn_rhs is None else "dyn"
        fp = decision.fingerprint or ""
        try:
            tpl["nano"].validate(tpl["table"])
        except Exception as e:
            # source drifted: drop the memo so the NEXT call rebuilds
            # against the current files; this one takes the Spark tiers,
            # which resolve the view per call
            self._tpl_cache.pop(tpl["key"], None)
            self.config.log.info(
                fp, f"{kind} nano program stale ({e}); rebuilding next refresh"
            )
            return None
        try:
            if wm_ns is None:
                state = {}
                max_groups = getattr(entry, "DRIVER_COLLECT_MAX_ROWS", 500_000)
            else:
                state = self._load_driver_state(tpl, entry, state_frame)
                max_groups = None  # state_is_local already bounds it

            def jvm_eval():
                v = self._eval_bound_value(dyn_rhs, now_ns)
                if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
                    return _dt.datetime(v.year, v.month, v.day)
                return v

            fresh, bnd, boundary, fresh_rows, bound_v = tpl["nano"].run(
                wm_ns, now_ns, jvm_eval=jvm_eval, max_groups=max_groups
            )
            if wm_ns is None and not fresh and not tpl["group_names"]:
                # a global aggregate's state over no rows is ONE row
                # (count 0, sum NULL), which only the Spark partial
                # aggregate produces
                raise Unsupported("global aggregate over no rows")
            if dyn_rhs is not None:
                decision.dynamic_lower = bound_v
            decision.fresh_rows_value = int(fresh_rows)
            res = self._finish_dyn_driver(
                tpl, entry, now_ns, decision, spec, state, fresh, bnd,
                boundary,
            )
            decision.refresh_tier = "nano"
            return res
        except StateCardinalityExceeded:
            raise  # cap trip: sql() registers the denial (cap contract)
        except Exception as e:
            if wm_ns is None:
                self.config.log.info(
                    fp, f"{kind} nano cold load not served ({e}); classic miss"
                )
            else:
                self._tpl_cache[tpl["key"]] = None
                self.config.log.warn(
                    fp, f"{kind} nano warm path failed ({e}); falling back"
                )
            return None

    def _nano_sources_ok(self, fingerprint: str, frames: Dict[str, DataFrame]) -> bool:
        """Every source frame is still the view ``register_parquet_view``
        made. The nano programs read the registered parquet files; a view
        later replaced under the same name (``createOrReplaceTempView`` of
        a filtered subset, say) has another canonical plan, and then only
        the Spark tiers, which resolve the view per call, answer it. One
        py4j call per table."""
        for t, fr in frames.items():
            src = LOCAL_PARQUET_SOURCES.get(t)
            if src is None or fr.semanticHash() != src.get("plan_hash"):
                self.config.log.info(
                    fingerprint,
                    f"nano tier bypassed: {t} is not its registered parquet view",
                )
                return False
        return True

    def _nano_tz_ok(self, fingerprint: str) -> bool:
        """The nano programs evaluate date_trunc buckets and window bounds
        with UTC Python/pyarrow mirrors, so they require a UTC session
        timezone at RUN time, not just when the memoized program was
        built. Checked on every refresh, before the memo lookup: a later
        ``SET spark.sql.session.timeZone`` bypasses the tier — the
        view-resolving tiers serve correctly — and the untouched memo
        resumes serving if the timezone returns to UTC."""
        tz = self.spark.conf.get("spark.sql.session.timeZone", "")
        if tz == "UTC":
            return True
        self.config.log.info(
            fingerprint,
            f"nano tier bypassed: session timezone {tz!r} (needs UTC)",
        )
        return False

    def _fold_temporal_literals(self, pred_expr, ts_col: str):
        """Fold every literal compared against the temporal column into an
        exact epoch-µs ``nano.Instant`` before ``pred_expr`` reaches a nano
        builder: ``TIMESTAMP '…'``, ``DATE '…'``, ``CAST('…' AS
        TIMESTAMP)``, and a bare ``'…'`` string, which Spark casts
        implicitly. Spark computes the instants itself, all in ONE one-row
        ``unix_micros(CAST(lit AS TIMESTAMP))`` eval (the
        ``_eval_bound_value`` pattern), so no Python mirror of its
        string→timestamp cast exists; a NULL instant raises (nano refused).
        Callers run it once per program build, inside the memoized
        program. Other shapes pass through unchanged, and
        ``nano._parse_pred`` refuses them on the temporal column."""
        from pyspark.sql.types import TimestampType

        from .nano import Instant
        from .plans.ir import BinOp, Cast, Not

        if pred_expr is None:
            return None

        def foldable(x) -> bool:
            if isinstance(x, Cast):
                return x.to_type.upper() in _INSTANT_CASTS and foldable(x.child)
            return isinstance(x, Lit) and (
                isinstance(x.value, str) or x.dtype in _INSTANT_CASTS
            )

        def rewrite(e, sub):
            if isinstance(e, Not):
                return Not(rewrite(e.child, sub))
            if isinstance(e, BinOp) and e.op == "and":
                return BinOp("and", rewrite(e.left, sub), rewrite(e.right, sub))
            if isinstance(e, BinOp) and e.op in (">", ">=", "<", "<=", "=", "!="):
                left, right = e.left, e.right
                if left == Col(ts_col) and foldable(right):
                    right = sub(right)
                elif right == Col(ts_col) and foldable(left):
                    left = sub(left)
                return BinOp(e.op, left, right)
            return e

        sites: Dict = {}  # foldable literal -> its column in the eval row

        def note(x):
            sites.setdefault(x, len(sites))
            return x

        rewrite(pred_expr, note)
        if not sites:
            return pred_expr
        row = (
            self.spark.range(0, 1, 1, 1)
            .select(
                *[
                    F.unix_micros(to_column(x).cast(TimestampType()))
                    for x in sites
                ]
            )
            .collect()[0]
        )
        if any(v is None for v in row):
            raise Unsupported("temporal literal casts to NULL")
        return rewrite(pred_expr, lambda x: Instant(int(row[sites[x]])))

    def _apply_order_limit(self, out: DataFrame, spec: AggSpec) -> DataFrame:
        if spec.order_by:
            sort_cols = []
            for o in spec.order_by:
                name = self._resolve_order_name(o.expr, spec)
                sort_cols.append(_order_col(name, o))
            out = out.orderBy(*sort_cols)
        if getattr(spec, "offset", None):
            # SQL LIMIT n OFFSET o: skip o then take n
            out = out.offset(spec.offset)
        if spec.limit is not None:
            out = out.limit(spec.limit)
        return out

    @staticmethod
    def _resolve_order_name(e, spec: AggSpec) -> str:
        if isinstance(e, Lit) and isinstance(e.value, int):
            idx = e.value - 1
            if 0 <= idx < len(spec.select_order):
                return spec.select_order[idx]
            raise Unsupported("order-by position out of range")
        if isinstance(e, Col):
            if e.name in spec.select_order:
                return e.name
            raise Unsupported(f"order by non-output column {e.name}")
        for item in list(spec.group_by) + list(spec.aggregates):
            if item.expr == e:
                return item.name
        raise Unsupported("order by expression not in select list")
