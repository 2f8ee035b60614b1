"""Refresh-tier machinery for :class:`.session.CachedSparkSession`.

Extracted from ``session.py`` (zero behavior change): the four refresh-tier
builders/runners that turn one cached aggregate's (state, fresh-tail) pair
into a result —

* **classic** — DataFrame program built per refresh (``_warm_merge`` stays in
  ``session.py``; this module holds everything below it);
* **template** — the whole refresh compiled ONCE to a single SQL string
  (``_build_warm_template`` / ``_run_warm_template``; dynamic-bound variant
  ``_build_dyn_warm_template`` / ``_run_dyn_warm_template``), so a warm
  refresh is one ``spark.sql`` call instead of hundreds of py4j round-trips;
* **lite** — fresh-tail scan in Spark, finalize on the driver over the <=
  group-count state rows (``_build_dyn_lite_template`` / ``_run_dyn_lite``,
  static twin ``_static_lite_template`` / ``_run_static_lite``);
* **nano** — zero-Spark-job driver refresh via pyarrow over a byte-gated
  fresh tail (``_nano_template`` / ``_run_nano``; programs in ``nano.py``),
  which also serves a cold load's whole-history scan.

Also home to the shared planning helpers (``_push_time_bounds``,
``_order_col``) and the :class:`Decision` observability record, imported
back into ``session.py`` for its own use.

Reference provenance: the tier ladder realizes the reference's single
``Union[Cached, LowerBounded(partial)] -> Final`` physical plan
(``src/aggregate.rs:386-409``) at four cost points; the reference has one.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .cache import StateCardinalityExceeded, arrow_to_spark
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
    bound ceils BOTH ends so consecutive runs tile exactly.

    Reference converts Arrow time units at the same boundary
    (``src/aggregate.rs:431-439``).
    """
    from pyspark.sql.types import TimestampNTZType, TimestampType

    types = {f.name: f.dataType for f in df.schema.fields}
    has_shadow = shadow in types
    ts_is_time = isinstance(
        types.get(ts_col), (TimestampType, TimestampNTZType)
    )
    if lo_ns is not None:
        if has_shadow:
            df = df.filter(F.col(shadow) >= F.lit(lo_ns))
            if ts_is_time:
                df = df.filter(
                    F.col(ts_col) >= F.timestamp_micros(F.lit(lo_ns // 1000))
                )
        else:
            df = df.filter(
                F.col(ts_col) >= F.timestamp_micros(F.lit(-(-lo_ns // 1000)))
            )
    if hi_ns is not None:
        hi_us = -(-hi_ns // 1000)
        if has_shadow:
            df = df.filter(F.col(shadow) < F.lit(hi_ns))
            if ts_is_time:
                df = df.filter(F.col(ts_col) < F.timestamp_micros(F.lit(hi_us)))
        else:
            df = df.filter(F.col(ts_col) < F.timestamp_micros(F.lit(hi_us)))
    return df


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
    #: f(now()) value (timestamp/date) on the classic path, or the
    #: rendered pinned-now SQL expression (string) on the fused template
    #: path, which never evaluates the bound driver-side (that would cost
    #: a Spark job per refresh). Non-None ⇔ a dynamic bound was in play.
    dynamic_lower: Optional[object] = None
    observation: Optional[Observation] = None  # fresh-scan row count (hit only)
    #: which warm-refresh tier served a hit: aggregates — "nano" (driver
    #: pyarrow scan), "lite" (one plain-sized job + driver merge),
    #: "template" (fused one-job SQL), or "classic" (DataFrame assembly);
    #: filter queries — "nano" (driver top-k), "topk" (Spark-path top-k
    #: union+sort+limit), or "rowset" (appended row sets). On a miss
    #: (``cache_hit`` False): "nano" when the nano program computed the
    #: state, None for the classic compute-and-store
    refresh_tier: Optional[str] = None
    #: exact fresh-row count when the SQL-template warm path ran (it counts
    #: via a rider aggregate instead of an Observation)
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
    """Mixin holding the template/lite/nano tier builders and runners.

    ``CachedSparkSession`` subclasses this; every method runs with ``self``
    being the live session wrapper (``self.spark``, ``self.config``,
    ``self.cache`` etc. are defined there).
    """

    def _sql_of(self, col: Column) -> str:
        """Render a compiled Column back to parseable SQL text via the JVM
        expression converter. Paid ONCE per template build; lets the whole
        warm-path program run as a single ``spark.sql`` call instead of
        hundreds of py4j DataFrame-building round-trips per refresh."""
        return self.spark._jsparkSession.expression(col._jc).sql()

    def _warm_template(
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
    ) -> Optional[dict]:
        """Memoized SQL template for the incremental-refresh program.

        The template is the textual twin of the classic warm plan —
        ``finalize(merge(union(state_view, singleton(fresh))))`` — with the
        watermark bounds as placeholder tokens, plus a rider aggregate
        ``sum(__qc_isfresh)`` that reproduces the Observation row count for
        free. None ⇒ this query shape can't be templated (stay classic)."""
        key = (*pkey, state_schema.simpleString())
        if key in self._tpl_cache:
            return self._tpl_cache[key]
        tpl = None
        try:
            tpl = self._build_warm_template(
                fingerprint, spec, plans, state_group, group_names, state_cols,
                partial_aggs, merge_aggs, pred, ts_col, shadow_ok, part_col,
                state_schema, tables,
            )
        except Exception as e:
            self.config.log.info(
                fingerprint, f"sql-template not available ({e}); using classic plan"
            )
            tpl = None
        if tpl is not None:
            tpl["key"] = key
        if len(self._tpl_cache) >= self._MEMO_MAX:
            self._tpl_cache.clear()
        self._tpl_cache[key] = tpl
        return tpl

    def _tpl_core(
        self,
        spec: AggSpec,
        plans,
        state_group,
        group_names: List[str],
        state_cols: List[str],
        partial_aggs: Dict[str, Column],
        merge_aggs: Dict[str, Column],
        pred: Optional[Column],
        ts_col: str,
        state_schema,
        tables: List[str],
    ) -> Optional[dict]:
        """SQL fragments shared by the static and dynamic warm templates:
        FROM clause, fresh/boundary partial select items, merge items, and
        the finalize item list. None ⇒ this shape can't be templated."""
        layout = self._fused_layout(spec)
        if layout is None:
            return None
        out_names, order_names, extra_names = layout
        sql_of = self._sql_of

        def q(n: str) -> str:
            return "`" + n.replace("`", "``") + "`"

        fin_raw = {p.name: p.finalize_raw for p in plans}
        dtypes = {f.name: f.dataType for f in state_schema.fields}
        g_sql = {g.name: sql_of(to_column(g.expr)) for g in state_group}

        singletons: Dict[str, Column] = {}
        use_singleton = True
        for p in plans:
            if p.singleton is None:
                use_singleton = False
                break
            singletons.update(p.singleton)

        # FROM: fact table, then the left-deep join steps (same static-dims
        # refresh contract as the DataFrame path)
        from_sql = q(tables[0])
        for step in spec.join_steps:
            if step.using:
                kw = "LEFT JOIN" if step.how == "left" else "JOIN"
                cols = ", ".join(q(u) for u in step.using)
                from_sql += f" {kw} {q(step.table)} USING ({cols})"
            elif step.on is None:
                from_sql += f" CROSS JOIN {q(step.table)}"
            else:
                kw = "LEFT JOIN" if step.how == "left" else "JOIN"
                from_sql += f" {kw} {q(step.table)} ON {sql_of(to_column(step.on))}"

        # partial select items: singleton row-states when every aggregate
        # has one (the one-shuffle plan), else explicit partial aggregates
        items = []
        for n in state_cols:
            if n in g_sql:
                items.append(f"{g_sql[n]} AS {q(n)}")
            elif use_singleton:
                t = dtypes[n].simpleString()
                items.append(f"CAST({sql_of(singletons[n])} AS {t}) AS {q(n)}")
            else:
                items.append(f"{sql_of(partial_aggs[n])} AS {q(n)}")

        merge_items = [
            f"{sql_of(merge_aggs[n])} AS {q(n)}"
            for n in state_cols
            if n not in g_sql
        ]
        # The central-moment merges (var/skew/kurt/corr families) are
        # higher-order array folds; the JVM renderer emits them as
        # `lambdafunction(...)`, which spark.sql cannot parse back. Flag it
        # so the SQL-template builders (the only merge_items consumers)
        # refuse and fall back to the classic DataFrame plan — the lite/
        # nano tiers also build on this core but merge via py_merge, so
        # they stay eligible.
        merge_has_hof = any("lambdafunction(" in f for f in merge_items + items)

        # finalize item list (output expressions + order ride-alongs + the
        # hidden HAVING flag) — the layout _arrow_result expects
        fin_exprs = []
        for i, name in enumerate(out_names):
            if name in fin_raw:
                fin_exprs.append(f"{sql_of(fin_raw[name])} AS {q('__fin%d' % i)}")
            else:
                fin_exprs.append(f"{q(name)} AS {q('__fin%d' % i)}")
        for nm in extra_names:
            fin_exprs.append(f"{q(nm)} AS {q('__ord_' + nm)}")
        if spec.having is not None:
            fin_exprs.append(f"{sql_of(fin_raw['__qc_having'])} AS {q('__fin_hv')}")

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
            "out_names": out_names,
            "order_names": order_names,
            "extra_names": extra_names,
            "q": q,
            "g_sql": g_sql,
            "dtypes": dtypes,
            "use_singleton": use_singleton,
            "from_sql": from_sql,
            "items": items,
            "merge_items": merge_items,
            "merge_has_hof": merge_has_hof,
            "fin_exprs": fin_exprs,
            "pred_sql": f"({sql_of(pred)})" if pred is not None else None,
            "gb_exprs": ", ".join(g_sql[n] for n in group_names),
            "sel_groups": ", ".join(q(n) for n in group_names),
            "state_sel": ", ".join(q(c) for c in state_cols),
            "ts_is_ts": ts_is_ts,
        }

    def _build_warm_template(
        self,
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
    ) -> Optional[dict]:
        import hashlib

        core = self._tpl_core(
            spec, plans, state_group, group_names, state_cols, partial_aggs,
            merge_aggs, pred, ts_col, state_schema, tables,
        )
        if core is None:
            return None
        q = core["q"]

        # WHERE: stable predicate + exact [wm, now) tiling + optional
        # partition-column coarsening for partition pruning. Same shape as
        # ``_push_time_bounds``: the ns shadow gives exactness; a REDUNDANT
        # µs bound on the timestamp column itself gives scan pushdown when
        # the shadow is a derived column (µs/NTZ sources) — floor the lower
        # / ceil the upper so the superset never drops a row the ns bound
        # admits.
        conds = []
        if core["pred_sql"] is not None:
            conds.append(core["pred_sql"])
        if shadow_ok:
            shadow = q(f"{ts_col}_ns")
            if core["ts_is_ts"]:
                # µs-aligned watermarks make the pushable µs bounds EXACT
                # (ts_ns ≥ 1000k ⟺ µs(ts) ≥ k for any integer ts_ns), so
                # the per-row ns-shadow comparisons are guarded out at
                # substitution time: __QC_NSG__ becomes `true` when both
                # bounds are multiples of 1000 and BooleanSimplification
                # erases the whole conjunct — the scan then evaluates only
                # the native µs comparisons. Misaligned bounds keep the
                # exact ns tiling (guard `false` folds to the ns conds).
                conds.append(
                    f"(__QC_NSG__ OR ({shadow} >= __QC_WM_NS__ "
                    f"AND {shadow} < __QC_NOW_NS__))"
                )
                conds.append(
                    f"{q(ts_col)} >= timestamp_micros(__QC_WM_US_FLOOR__)"
                )
                conds.append(f"{q(ts_col)} < timestamp_micros(__QC_NOW_US__)")
            else:
                conds.append(f"{shadow} >= __QC_WM_NS__")
                conds.append(f"{shadow} < __QC_NOW_NS__")
        else:
            conds.append(f"{q(ts_col)} >= timestamp_micros(__QC_WM_US__)")
            conds.append(f"{q(ts_col)} < timestamp_micros(__QC_NOW_US__)")
        if part_col:
            conds.append(f"{q(part_col)} >= DATE'__QC_LO_D__'")
            conds.append(f"{q(part_col)} <= DATE'__QC_HI_D__'")
        where_sql = " AND ".join(conds)

        view = f"__qc_state_{hashlib.md5(fingerprint.encode()).hexdigest()[:12]}"
        isf = q("__qc_isfresh")

        # fresh side: singleton row-states when every aggregate has one (the
        # one-shuffle plan), else an explicit partial sub-aggregate
        items = core["items"]
        if core["use_singleton"]:
            fresh_sql = (
                f"SELECT {', '.join(items)}, 1 AS {isf} "
                f"FROM {core['from_sql']} WHERE {where_sql}"
            )
        else:
            fresh_sql = (
                f"SELECT {', '.join(items)}, count(1) AS {isf} "
                f"FROM {core['from_sql']} WHERE {where_sql}"
                + (f" GROUP BY {core['gb_exprs']}" if group_names else "")
            )

        state_sel = core["state_sel"]
        union_sql = (
            f"{fresh_sql} UNION ALL SELECT {state_sel}, 0 AS {isf} FROM {q(view)}"
        )

        # merge: one hash aggregate over the union — map-side combine of the
        # singleton rows IS the partial aggregation (single shuffle)
        if core.get("merge_has_hof"):
            raise ValueError(
                "merge uses a higher-order fold (not SQL-renderable)"
            )
        sel_groups = core["sel_groups"]
        head = f"{sel_groups}, " if group_names else ""
        m_sql = (
            f"SELECT {head}{', '.join(core['merge_items'])}, "
            f"sum({isf}) AS {q('__qc_fresh')} "
            f"FROM ({union_sql}) __qc_u"
            + (f" GROUP BY {sel_groups}" if group_names else "")
        )

        # finalize: state columns ride through for the store-back, followed
        # by the output expressions — same layout _arrow_result expects,
        # with the fresh-row counter as the (dropped) last column
        fin_items = [q(n) for n in state_cols]
        fin_items.extend(core["fin_exprs"])
        fin_items.append(q("__qc_fresh"))
        sql = f"SELECT {', '.join(fin_items)} FROM ({m_sql}) __qc_m"

        if "lambdafunction(" in sql:
            # higher-order-function lambdas (RLE-histogram percentile state)
            # don't round-trip through Expression.sql() — the rendered
            # lambdafunction(...) form is not parseable SQL. Stay classic.
            return None

        return {
            "sql": sql,
            "view": view,
            "out_names": core["out_names"],
            "order_names": core["order_names"],
            "extra_names": core["extra_names"],
        }


    def _bind_state_source(self, tpl: dict, entry, cached_state: DataFrame,
                           sql: str) -> str:
        """Bind the template's state reference by (re-)registering the temp
        view over the entry's current state DataFrame.

        Measured alternative: inlining the entry's parquet path as
        ``parquet.`path``` (``entry.state_parquet_paths()``) skips this
        registration (~8ms) but pays footer schema-inference during
        analysis (~60ms/refresh — the state dir changes on every
        store-back swap, so nothing caches) — strictly worse. The view
        carries the explicit meta-schema read, so analysis never touches
        the parquet footer."""
        cached_state.createOrReplaceTempView(tpl["view"])
        return sql

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

    def _run_warm_template(
        self,
        tpl: dict,
        entry,
        cached_state: DataFrame,
        wm_ns: int,
        now_ns: int,
        decision: Decision,
        spec: AggSpec,
        state_cols: List[str],
    ) -> Optional[DataFrame]:
        """Execute the templated refresh: ~4 py4j calls + one Spark job.

        Store-back comes from the same collected Arrow table (no second
        scan); a zero-row refresh window only advances the watermark."""
        from pyspark.sql.types import StructType

        try:
            # non-negativity required for erasure: see _sub_time_tokens
            aligned = wm_ns % 1000 == 0 and now_ns % 1000 == 0 and wm_ns >= 0
            sql = (
                tpl["sql"]
                .replace("__QC_NSG__", "true" if aligned else "false")
                .replace("__QC_WM_NS__", str(wm_ns))
                .replace("__QC_NOW_NS__", str(now_ns))
            )
            if "__QC_WM_US__" in sql:
                sql = sql.replace("__QC_WM_US__", str(-(-wm_ns // 1000)))
            if "__QC_WM_US_FLOOR__" in sql:
                # superset companion of the exact ns bound: floor, not ceil
                sql = sql.replace("__QC_WM_US_FLOOR__", str(wm_ns // 1000))
            if "__QC_NOW_US__" in sql:
                sql = sql.replace("__QC_NOW_US__", str(-(-now_ns // 1000)))
            if "__QC_LO_D__" in sql:
                import datetime as _dt

                # ±1-day widening: these dates derive from the instant in
                # naive UTC while the partition column's dates were
                # materialized in SOME session timezone (possibly a
                # different one) — any fixed-offset skew moves a date by at
                # most one day, so the widened bounds never exclude a
                # qualifying partition (pruning is an optimization; the
                # exact ts bounds still filter rows). Found live: a
                # Chicago-tz session over a UTC-built partition layout
                # dropped a boundary-bucket row (r12 vanilla fuzz).
                epoch = _dt.datetime(1970, 1, 1)
                one = _dt.timedelta(days=1)
                lo_d = (epoch + _dt.timedelta(microseconds=wm_ns // 1000)).date() - one
                hi_d = (epoch + _dt.timedelta(microseconds=now_ns // 1000)).date() + one
                sql = sql.replace("__QC_LO_D__", lo_d.isoformat())
                sql = sql.replace("__QC_HI_D__", hi_d.isoformat())
            sql = self._bind_state_source(tpl, entry, cached_state, sql)
            # bound the collect: a refresh window that explodes group
            # cardinality (small prev state, huge fresh burst) must fall
            # back to the classic program — whose store spills to the
            # distributed path — not materialize driver-side first. The
            # LIMIT cannot under-count the rider sum on the admitted path
            # (overflow ⇒ fall back, the truncated table is discarded),
            # and the observe-under-limit argument from ``cache.put``
            # doesn't even arise (the rider rides the rows themselves).
            cap = getattr(entry, "DRIVER_COLLECT_MAX_ROWS", 500_000)
            df = self.spark.sql(sql)
            self.last_refresh_df = df
            aug_fields = list(df.schema.fields)
            tbl = self._refresh_to_arrow(df, cap, spec)  # the ONE job
        except Exception as e:
            # poison this template (wrong render, unregistered function,
            # ...) and fall back to the classic DataFrame program
            self._tpl_cache[tpl["key"]] = None
            self.config.log.warn(
                decision.fingerprint or "",
                f"sql-template warm path failed ({e}); falling back",
            )
            return None
        if tbl.num_rows > cap:
            # transient burst, NOT a template defect: no poisoning — the
            # classic program re-runs this refresh and stores distributed
            self.config.log.warn(
                decision.fingerprint or "",
                f"template refresh grew past {cap} groups; classic fallback",
            )
            return None

        import pyarrow.compute as pc

        last = tbl.num_columns - 1
        fresh = pc.sum(tbl.column(last)).as_py()
        decision.fresh_rows_value = int(fresh or 0)
        tbl = tbl.remove_column(last)
        aug_fields = aug_fields[:-1]
        base_idx = len(state_cols)
        if decision.fresh_rows_value == 0 and entry.advance_watermark(now_ns):
            pass  # merged state ≡ stored state: watermark swap only
        else:
            state_schema = StructType(
                [f for f in aug_fields[:base_idx]]
            )
            state_part = tbl.select(list(range(base_idx)))
            if not entry.put_arrow(now_ns, state_part, state_schema):
                st_df = arrow_to_spark(
                    self.spark, state_part, schema=state_schema
                )
                entry.put(now_ns, st_df, self.spark)
        decision.refresh_tier = "template"
        return self._arrow_result(
            tbl, aug_fields, base_idx, spec,
            tpl["out_names"], tpl["extra_names"], tpl["order_names"],
        )

    # -- dynamic-bound SQL-template warm path --------------------------------

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
                # µs-aligned bounds make the pushable µs comparisons exact;
                # the guard token then folds the per-row ns conds away
                # (see the static template's __QC_NSG__ note)
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
        import datetime as _dt

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
            # ±1-day widening: UTC-naive dates vs a partition column whose
            # dates were materialized in SOME session tz — skew moves a
            # date by at most one day, so widened bounds never exclude a
            # qualifying partition (the exact ts bounds still filter rows)
            epoch = _dt.datetime(1970, 1, 1)
            one = _dt.timedelta(days=1)
            lo_d = (epoch + _dt.timedelta(microseconds=lo_ns // 1000)).date() - one
            hi_d = (epoch + _dt.timedelta(microseconds=hi_ns // 1000)).date() + one
            sql = sql.replace(f"__QC_{p}LO_D__", lo_d.isoformat())
            sql = sql.replace(f"__QC_{p}HI_D__", hi_d.isoformat())
        return sql

    def _dyn_warm_template(
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
        bucket_name: str,
        bucket_gran: str,
        dyn_op: str,
    ) -> Optional[dict]:
        """Memoized one-SQL template for the dynamic-bound refresh."""
        key = ("dyn", *pkey, state_schema.simpleString())
        if key in self._tpl_cache:
            return self._tpl_cache[key]
        tpl = None
        try:
            tpl = self._build_dyn_warm_template(
                fingerprint, spec, plans, state_group, group_names, state_cols,
                partial_aggs, merge_aggs, pred, ts_col, shadow_ok, part_col,
                state_schema, tables, bucket_name, bucket_gran, dyn_op,
            )
        except Exception as e:
            self.config.log.info(
                fingerprint,
                f"dyn sql-template not available ({e}); using classic plan",
            )
            tpl = None
        if tpl is not None:
            tpl["key"] = key
        if len(self._tpl_cache) >= self._MEMO_MAX:
            self._tpl_cache.clear()
        self._tpl_cache[key] = tpl
        return tpl

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
        """Combined fresh-tail + boundary-bucket scan, shared by the fused
        dyn template and the lite tier.

        ONE pass over the fact table replaces the former two scan branches
        (fresh tail [wm, now) and boundary-bucket recompute): the WHERE
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
            # all leaves are plain comparisons, so the OR stays prunable
            # boundary-leg dates: session-tz CASTs, still widened ±1 day —
            # the partition column's dates may have been materialized under
            # a DIFFERENT session timezone than this query's (found live:
            # a Chicago session over a UTC-built layout dropped a
            # boundary-bucket row, r12 vanilla fuzz); the exact ts bounds
            # still filter rows, so widening only costs ≤2 extra partitions
            inner_conds.append(
                f"(({q(part_col)} >= DATE'__QC_FLO_D__' AND "
                f"{q(part_col)} <= DATE'__QC_FHI_D__') OR "
                f"({q(part_col)} >= date_sub(CAST({low_ts} AS DATE), 1) AND "
                f"{q(part_col)} <= date_add(CAST(timestamp_micros({bhi_us}) AS DATE), 1)))"
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

    def _build_dyn_warm_template(
        self,
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
        bucket_name: str,
        bucket_gran: str,
        dyn_op: str,
    ) -> Optional[dict]:
        """One-SQL / one-shuffle dynamic-bound refresh program.

        The classic dynamic warm path ran several driver-sequenced jobs per
        refresh (fresh-tail merge, state store, boundary recompute, final
        re-aggregate) — slower than a plain rescan at every recorded scale.
        This template computes BOTH the refreshed state (for the store-back)
        and the finished query result in ONE aggregate via a destination
        tag:

        * every input row is routed to ``dest=0`` (state maintenance, at
          bucket granularity) and/or ``dest=1`` (the query result, at the
          QUERY's granularity) — rows above the boundary bucket explode to
          both, boundary-bucket recompute rows go only to the result;
        * for result rows the synthetic bucket key is nulled out, so ONE
          ``GROUP BY dest, <state groups>`` aggregates each destination at
          its own granularity (merge associativity: re-aggregating merged
          full buckets ≡ merging their raw parts);
        * the whole program is one Spark job — ONE fact-table scan whose
          pushable OR-of-ranges filter covers both the fresh tail
          ``[wm, now)`` and the boundary bucket ``[lower, bucket_end)``
          (both ranges reach parquet ``PushedFilters`` / partition
          pruning), one tiny state-file scan, ONE shuffle — against
          plain's full-window rescan.

        ``bucket_end`` comes from a session-tz ``date_trunc + INTERVAL``,
        so the boundary scan needs no DST slack; bound and boundary
        literals bind as epoch-µs ``timestamp_micros`` tokens, so
        session-timezone string reinterpretation can't shift them. The
        driver splits the collected Arrow table on the kind column: kind=0
        rows feed ``put_arrow`` (no second scan), kind=1 rows finish as
        the LocalRelation result.
        """
        import hashlib

        core = self._tpl_core(
            spec, plans, state_group, group_names, state_cols, partial_aggs,
            merge_aggs, pred, ts_col, state_schema, tables,
        )
        if core is None:
            return None
        q = core["q"]
        g_sql = core["g_sql"]
        if bucket_name not in g_sql:
            return None  # no bucket column in state: not a dyn state shape

        rg = [g.name for g in spec.group_by]
        sc = self._dyn_scan_core(
            core, ts_col, shadow_ok, part_col, bucket_name, bucket_gran,
            dyn_op,
        )
        bucket_dt = sc["bucket_dt"]
        bnd_lit = sc["bnd_lit"]
        null_bucket = bucket_name not in rg  # synthetic bucket: result drops it
        dest = q("__qc_dest")
        isf = q("__qc_isfresh")
        view = f"__qc_state_{hashlib.md5(fingerprint.encode()).hexdigest()[:12]}"

        def dest_arr(bucket_expr: str) -> str:
            """Explode source: state-maintenance always; the result too for
            rows strictly above the boundary bucket (boundary-bucket rows
            reach the result via the exact recompute branch instead)."""
            return (
                f"LATERAL VIEW explode(CASE WHEN {bucket_expr} > {bnd_lit} "
                f"THEN array(0, 1) ELSE array(0) END) __qc_x AS {q('__qc_dest')}"
            )

        def bucket_out(bucket_expr: str, const_dest1: bool) -> str:
            if not null_bucket:
                return bucket_expr
            if const_dest1:
                return f"CAST(NULL AS {bucket_dt})"
            return (
                f"CASE WHEN {dest} = 1 THEN CAST(NULL AS {bucket_dt}) "
                f"ELSE {bucket_expr} END"
            )

        # state rows: one tiny scan, exploded to their destination set
        st_items = []
        for n in state_cols:
            if n == bucket_name:
                st_items.append(f"{bucket_out(q(n), False)} AS {q(n)}")
            else:
                st_items.append(q(n))
        state_branch = (
            f"SELECT {', '.join(st_items)}, {dest}, 0 AS {isf} "
            f"FROM {q(view)} {dest_arr(q(bucket_name))}"
        )

        qif, qib = sc["qif"], sc["qib"]
        inner_sql = sc["inner_sql"]

        def scan_items(const_dest1: bool) -> List[str]:
            out = []
            for s, n in zip(core["items"], state_cols):
                if n == bucket_name:
                    out.append(
                        f"{bucket_out(g_sql[n], const_dest1)} AS {q(n)}"
                    )
                else:
                    out.append(s)
            return out

        # destination routing: fresh rows always maintain state (0) and
        # additionally feed the result (1) when their bucket is strictly
        # above the boundary bucket OR they fall in the exact boundary
        # recompute range; boundary-only rows feed the result alone
        dest_case = (
            f"CASE WHEN {qif} AND ({g_sql[bucket_name]} > {bnd_lit} "
            f"OR {qib}) THEN array(0, 1) "
            f"WHEN {qif} THEN array(0) ELSE array(1) END"
        )
        scan_src = (
            f"({inner_sql}) __qc_s "
            f"LATERAL VIEW explode({dest_case}) __qc_x AS {q('__qc_dest')}"
        )
        scan_where = f"{qif} OR {qib}"
        if core["use_singleton"]:
            scan_branch = (
                f"SELECT {', '.join(scan_items(False))}, {dest}, "
                f"CASE WHEN {dest} = 0 THEN 1 ELSE 0 END AS {isf} "
                f"FROM {scan_src} WHERE {scan_where}"
            )
        else:
            gb = [f"{bucket_out(g_sql[n], False)}" if n == bucket_name
                  else g_sql[n] for n in group_names]
            scan_branch = (
                f"SELECT {', '.join(scan_items(False))}, {dest}, "
                f"sum(CASE WHEN {dest} = 0 THEN 1 ELSE 0 END) AS {isf} "
                f"FROM {scan_src} WHERE {scan_where}"
                f" GROUP BY {dest}, {', '.join(gb)}"
            )

        # ONE aggregate over the tagged union: dest=0 groups merge at state
        # (bucket) granularity, dest=1 groups at the query's granularity
        if core.get("merge_has_hof"):
            raise ValueError(
                "merge uses a higher-order fold (not SQL-renderable)"
            )
        union_sql = f"{state_branch} UNION ALL {scan_branch}"
        m_sql = (
            f"SELECT {dest}, {core['sel_groups']}, "
            f"{', '.join(core['merge_items'])}, "
            f"sum({isf}) AS {q('__qc_fresh')} "
            f"FROM ({union_sql}) __qc_u "
            f"GROUP BY {dest}, {core['sel_groups']}"
        )

        # finalize: state columns ride through (kind=0 rows feed the
        # store-back; their fin columns are computed but ignored), fins
        # finish kind=1 rows — the layout _run_dyn_warm_template splits
        fin_items = [q(n) for n in state_cols]
        fin_items.extend(core["fin_exprs"])
        fin_items.append(q("__qc_fresh"))
        fin_items.append(f"{dest} AS {q('__qc_kind')}")
        sql = f"SELECT {', '.join(fin_items)} FROM ({m_sql}) __qc_m"

        if "lambdafunction(" in sql:
            return None  # same non-parseable-render guard as the static path

        return {
            "sql": sql,
            "view": view,
            "out_names": core["out_names"],
            "order_names": core["order_names"],
            "extra_names": core["extra_names"],
        }

    def _run_dyn_warm_template(
        self,
        tpl: dict,
        entry,
        cached_state: DataFrame,
        wm_ns: int,
        now_ns: int,
        dyn_rhs,
        decision: Decision,
        spec: AggSpec,
        state_cols: List[str],
    ) -> Optional[DataFrame]:
        """Execute the templated dynamic refresh: one Spark job, one Arrow
        collect, driver-side split into store-back state and result. The
        bound never evaluates on the driver — the pinned rhs is rendered
        into the SQL and Catalyst constant-folds it."""
        from pyspark.sql.types import StructType

        try:
            rhs_sql = f"({self._sql_of(to_column(self._pin_now(dyn_rhs, now_ns)))})"
            # the rendered pinned bound (classic paths carry the evaluated
            # value; evaluating here would cost a driver-local Spark job)
            decision.dynamic_lower = rhs_sql
            sql = tpl["sql"].replace("__QC_RHS__", rhs_sql)
            sql = self._sub_time_tokens(sql, "F", wm_ns, now_ns)
            sql = self._bind_state_source(tpl, entry, cached_state, sql)
            # burst bound — same contract as the static template: a
            # cardinality explosion falls back to the classic program
            # (bounded store, distributed spill), never materializes
            # driver-side first
            cap = getattr(entry, "DRIVER_COLLECT_MAX_ROWS", 500_000)
            df = self.spark.sql(sql)
            self.last_refresh_df = df
            aug_fields = list(df.schema.fields)
            tbl = self._refresh_to_arrow(df, cap, spec)  # the ONE job
        except Exception as e:
            self._tpl_cache[tpl["key"]] = None
            self.config.log.warn(
                decision.fingerprint or "",
                f"dyn sql-template warm path failed ({e}); falling back",
            )
            return None
        if tbl.num_rows > cap:
            self.config.log.warn(
                decision.fingerprint or "",
                f"dyn template refresh grew past {cap} rows; classic fallback",
            )
            return None

        import pyarrow.compute as pc

        kind = tbl.column(tbl.num_columns - 1)
        state_tbl = tbl.filter(pc.equal(kind, 0))
        res_tbl = tbl.filter(pc.equal(kind, 1))
        fresh = pc.sum(state_tbl.column(tbl.num_columns - 2)).as_py()
        decision.fresh_rows_value = int(fresh or 0)
        base_idx = len(state_cols)
        res_tbl = res_tbl.remove_column(res_tbl.num_columns - 1)
        res_tbl = res_tbl.remove_column(res_tbl.num_columns - 1)
        aug_res_fields = aug_fields[:-2]
        if decision.fresh_rows_value == 0 and entry.advance_watermark(now_ns):
            pass  # merged state ≡ stored state: watermark swap only
        else:
            state_schema = StructType([f for f in aug_fields[:base_idx]])
            state_part = state_tbl.select(list(range(base_idx)))
            if not entry.put_arrow(now_ns, state_part, state_schema):
                st_df = arrow_to_spark(self.spark, state_part, schema=state_schema)
                entry.put(now_ns, st_df, self.spark)
        decision.refresh_tier = "template"
        return self._arrow_result(
            res_tbl, aug_res_fields, base_idx, spec,
            tpl["out_names"], tpl["extra_names"], tpl["order_names"],
        )

    def _dyn_lite_template(
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
        bucket_name: str,
        bucket_gran: str,
        dyn_op: str,
    ) -> Optional[dict]:
        """Memoized lite-tier program for the dynamic-bound refresh."""
        key = ("dynlite", *pkey, state_schema.simpleString())
        if key in self._tpl_cache:
            return self._tpl_cache[key]
        tpl = None
        try:
            tpl = self._build_dyn_lite_template(
                fingerprint, spec, plans, state_group, group_names,
                state_cols, partial_aggs, merge_aggs, pred, ts_col,
                shadow_ok, part_col, state_schema, tables, bucket_name,
                bucket_gran, dyn_op,
            )
        except Exception as e:
            self.config.log.info(
                fingerprint,
                f"dyn lite tier not available ({e}); trying fused template",
            )
            tpl = None
        if tpl is not None:
            tpl["key"] = key
        if len(self._tpl_cache) >= self._MEMO_MAX:
            self._tpl_cache.clear()
        self._tpl_cache[key] = tpl
        return tpl

    def _build_dyn_lite_template(
        self,
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
        bucket_name: str,
        bucket_gran: str,
        dyn_op: str,
    ) -> Optional[dict]:
        """Lite dynamic-bound refresh: a PLAIN-SIZED Spark job plus an
        O(state) driver merge.

        The fused template's one-job program is still a 4-stage plan
        (state scan ∪ exploded fact scan → merge shuffle → finalize) whose
        per-refresh analyze+codegen fixed cost (~0.3 s) dwarfs plain's
        (~0.1 s) at small scale. When the query GROUPS BY its own time
        bucket, no cross-bucket merge is needed at all: the refreshed
        state rows ARE the result rows (plus the recomputed boundary
        bucket). So this tier runs ONLY the distributed part Spark is
        needed for — the fresh-tail + boundary scan with the same pushable
        OR-of-ranges filter, partially aggregated at (state groups ×
        disjoint range cell) — and folds the handful of returned partial
        rows into the driver-resident state with exact Python mirrors of
        the merge/finalize semantics (``partial.py py_merge/py_finalize``;
        the reference merges accumulator state in-engine the same way,
        ``src/aggregate.rs:402-409``). One scan, one small shuffle, a
        plan the size of plain's, and no second aggregate.

        Admission (anything else falls back to the fused template):
        * the bucket is one of the query's GROUP BY columns;
        * every aggregate + finalize shape has an exact Python mirror
          (count/sum/min/max/avg over non-decimal input; bare calls,
          ``+ - * /``, HALF_UP round);
        * no grouping sets; no float-typed or nested group keys
          (Python dict keys must hash like SQL equality);
        * no ltz timestamps in state/output (tz-free Arrow round-trip).

        At 100 TB the admission story is unchanged from the fused
        template: both tiers require driver-small state (the caller's
        ``state_is_local`` gate); the scan stays fully distributed with
        parquet pushdown/pruning, only O(state) rows cross the driver.
        """
        if bucket_name not in [g.name for g in spec.group_by]:
            return None  # cross-bucket merge needed: fused template's job
        # dyn rejects ltz timestamps: the boundary compare / trunc
        # arithmetic driver-side assumes tz-free values (static lite allows
        # them — aware datetimes pass through as opaque keys there)
        base = self._lite_base(
            spec, plans, state_group, group_names, state_cols, partial_aggs,
            merge_aggs, pred, ts_col, state_schema, tables, allow_ltz=False,
        )
        if base is None:
            return None
        self._add_dyn_bucket(base, group_names, bucket_name, bucket_gran)
        core = base.pop("__core")
        q = core["q"]

        sc = self._dyn_scan_core(
            core, ts_col, shadow_ok, part_col, bucket_name, bucket_gran,
            dyn_op,
        )
        qif, qib = sc["qif"], sc["qib"]

        # disjoint range cells — no row is double-counted: 2 = fresh tail
        # only, 1 = boundary recompute only, 3 = both. Driver folds
        # {2,3} into the state update and {1,3} into the boundary result.
        cell = f"(CASE WHEN {qif} AND {qib} THEN 3 WHEN {qif} THEN 2 ELSE 1 END)"
        base["sql"] = (
            f"SELECT {', '.join(base.pop('__items'))}, "
            f"count(1) AS {q('__qc_nr')}, "
            f"any_value({sc['bnd_lit']}) AS {q('__qc_bnd')}, "
            f"{cell} AS {q('__qc_cell')} "
            f"FROM ({sc['inner_sql']}) __qc_s WHERE {qif} OR {qib} "
            f"GROUP BY {core['gb_exprs']}, {cell}"
        )
        return base

    @staticmethod
    def _add_dyn_bucket(base: dict, group_names, bucket_name, bucket_gran):
        """The dynamic-bound driver merge's bucket fields, in place."""
        from pyspark.sql.types import DateType

        st_fields = {f.name: f.dataType for f in base["state_schema"].fields}
        base["bucket_idx"] = group_names.index(bucket_name)
        base["bucket_gran"] = bucket_gran
        base["bucket_is_date"] = isinstance(st_fields[bucket_name], DateType)

    def _lite_base(
        self,
        spec: AggSpec,
        plans,
        state_group,
        group_names: List[str],
        state_cols: List[str],
        partial_aggs: Dict[str, Column],
        merge_aggs: Dict[str, Column],
        pred: Optional[Column],
        ts_col: str,
        state_schema,
        tables: List[str],
        allow_ltz: bool,
    ) -> Optional[dict]:
        """The lite tier's scaffolding: the driver merge base plus the
        SQL core and partial select items its one Spark job runs. None ⇔
        some shape has no exact Python mirror or SQL template."""
        base = self._driver_base(
            spec, plans, group_names, state_cols, merge_aggs, state_schema,
            allow_ltz,
        )
        if base is None:
            return None
        core = self._tpl_core(
            spec, plans, state_group, group_names, state_cols, partial_aggs,
            merge_aggs, pred, ts_col, state_schema, tables,
        )
        if core is None:
            return None
        q = core["q"]
        g_sql = core["g_sql"]
        base["__core"] = core
        base["__items"] = [f"{g_sql[n]} AS {q(n)}" for n in group_names] + [
            f"{self._sql_of(partial_aggs[n])} AS {q(n)}"
            for n in base["partial_cols"]
        ]
        return base

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

    def _run_dyn_lite(
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
        """Execute the lite refresh: one plain-sized Spark job, then the
        O(state) merge/finalize on the driver. Store-back happens only
        after the result is safely built — a store failure leaves the old
        state + watermark intact (the next refresh rescans from the old
        watermark, exactly)."""
        import datetime as _dt

        try:
            rhs_sql = f"({self._sql_of(to_column(self._pin_now(dyn_rhs, now_ns)))})"
            decision.dynamic_lower = rhs_sql
            sql = tpl["sql"].replace("__QC_RHS__", rhs_sql)
            sql = self._sub_time_tokens(sql, "F", wm_ns, now_ns)
            df = self.spark.sql(sql)
            self.last_refresh_df = df
            # burst bound (same contract as the template tiers):
            # overflow falls through to the next tier, no poisoning
            cap = getattr(entry, "DRIVER_COLLECT_MAX_ROWS", 500_000)
            scan_tbl = self._refresh_to_arrow(df, cap, spec)
            if scan_tbl.num_rows > cap:
                self.config.log.warn(
                    decision.fingerprint or "",
                    f"lite refresh grew past {cap} rows; next tier",
                )
                return None
            scan = scan_tbl.to_pylist()

            state = self._load_driver_state(tpl, entry, cached_state)
            gnames = tpl["group_names"]
            pcols = tpl["partial_cols"]
            merges = tpl["merges"]

            def merge2(a, b):
                if a is None:
                    return dict(b)
                out = dict(a)
                for m in merges:
                    out.update(m(a, b))
                return out

            fresh: dict = {}
            bnd: dict = {}
            boundary = None
            fresh_rows = 0
            for r in scan:
                key = tuple(r[g] for g in gnames)
                st = {c: r[c] for c in pcols}
                boundary = r["__qc_bnd"]
                if r["__qc_cell"] >= 2:  # cells 2, 3: fresh tail
                    fresh[key] = merge2(fresh.get(key), st)
                    fresh_rows += r["__qc_nr"]
                if r["__qc_cell"] in (1, 3):  # boundary recompute
                    bnd[key] = merge2(bnd.get(key), st)
            decision.fresh_rows_value = int(fresh_rows)

            if boundary is None:
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
                f"dyn lite warm path failed ({e}); falling back",
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
        merges = tpl["merges"]

        def merge2(a, b):
            if a is None:
                return dict(b)
            out = dict(a)
            for m in merges:
                out.update(m(a, b))
            return out

        new_state = dict(state)
        for k, st in fresh.items():
            new_state[k] = merge2(new_state.get(k), st)

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
                f"{kind} nano tier not available ({e}); trying lite/template",
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
        built. Checked on every refresh (template builders run before the
        memo lookup): a later ``SET spark.sql.session.timeZone`` bypasses
        the tier — the view-resolving tiers serve correctly — and the
        untouched memo resumes serving if the timezone returns to UTC."""
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
        template. Other shapes pass through unchanged, and
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

    def _static_lite_template(
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
    ) -> Optional[dict]:
        """Memoized STATIC lite-tier program.

        Static warm refreshes are strictly simpler than dynamic ones —
        the state granularity IS the query granularity and there is no
        boundary bucket — so when every aggregate/finalize has an exact
        Python mirror the whole refresh collapses to: ONE plain-sized
        Spark job (fresh-window scan + partial aggregation, the same
        pushable watermark conds as the fused template), a driver-side
        O(state) merge, and finalize over ALL refreshed state rows. This
        removes the fused template's state-scan ∪ union ∪ merge-shuffle
        plan — roughly halving the per-refresh JVM compile+run floor —
        for the most common dashboard shapes (any groups incl. ltz time
        buckets, predicates, joins, expression agg args; the partial agg
        stays in SQL so only MERGE/FINALIZE need Python mirrors).
        """
        key = ("slite", *pkey, state_schema.simpleString())
        if key in self._tpl_cache:
            return self._tpl_cache[key]
        tpl = None
        try:
            base = self._lite_base(
                spec, plans, state_group, group_names, state_cols,
                partial_aggs, merge_aggs, pred, ts_col, state_schema,
                tables, allow_ltz=True,
            )
            if base is not None:
                core = base.pop("__core")
                q = core["q"]
                conds = list(
                    self._time_conds(
                        q, ts_col, shadow_ok, core["ts_is_ts"], part_col, "F"
                    )
                )
                if core["pred_sql"]:
                    conds.insert(0, core["pred_sql"])
                base["sql"] = (
                    f"SELECT {', '.join(base.pop('__items'))}, "
                    f"count(1) AS {q('__qc_nr')} "
                    f"FROM {core['from_sql']} WHERE {' AND '.join(conds)}"
                    # global aggregate: no GROUP BY clause (an empty
                    # expression list would be a ParseException that
                    # permanently nulls this memo — a silent tier loss)
                    + (f" GROUP BY {core['gb_exprs']}" if group_names else "")
                )
                tpl = base
        except Exception as e:
            self.config.log.info(
                fingerprint,
                f"static lite tier not available ({e}); using template",
            )
            tpl = None
        if tpl is not None:
            tpl["key"] = key
        if len(self._tpl_cache) >= self._MEMO_MAX:
            self._tpl_cache.clear()
        self._tpl_cache[key] = tpl
        return tpl

    def _run_static_lite(
        self,
        tpl: dict,
        entry,
        cached_state: DataFrame,
        wm_ns: int,
        now_ns: int,
        decision: Decision,
        spec: AggSpec,
    ) -> Optional[DataFrame]:
        """Execute the static lite refresh: one plain-sized Spark job over
        the fresh window, driver merge, finalize over the whole state."""
        try:
            sql = self._sub_time_tokens(tpl["sql"], "F", wm_ns, now_ns)
            df = self.spark.sql(sql)
            self.last_refresh_df = df
            # burst bound (same contract as the template tiers):
            # overflow falls through to the next tier, no poisoning
            cap = getattr(entry, "DRIVER_COLLECT_MAX_ROWS", 500_000)
            scan_tbl = self._refresh_to_arrow(df, cap, spec)
            if scan_tbl.num_rows > cap:
                self.config.log.warn(
                    decision.fingerprint or "",
                    f"lite refresh grew past {cap} rows; next tier",
                )
                return None
            scan = scan_tbl.to_pylist()

            state = self._load_driver_state(tpl, entry, cached_state)
            gnames = tpl["group_names"]
            pcols = tpl["partial_cols"]
            merges = tpl["merges"]

            def merge2(a, b):
                if a is None:
                    return dict(b)
                out = dict(a)
                for m in merges:
                    out.update(m(a, b))
                return out

            fresh: dict = {}
            fresh_rows = 0
            for r in scan:
                key = tuple(r[g] for g in gnames)
                st = {c: r[c] for c in pcols}
                fresh[key] = merge2(fresh.get(key), st)
                fresh_rows += r["__qc_nr"]
            decision.fresh_rows_value = int(fresh_rows)

            res = self._finish_dyn_driver(
                tpl, entry, now_ns, decision, spec, state, fresh, {}, None,
            )
            decision.refresh_tier = "lite"
            return res
        except StateCardinalityExceeded:
            raise  # cap trip: sql() registers the denial (cap contract)
        except Exception as e:
            self._tpl_cache[tpl["key"]] = None
            self.config.log.warn(
                decision.fingerprint or "",
                f"static lite warm path failed ({e}); falling back",
            )
            return None

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
