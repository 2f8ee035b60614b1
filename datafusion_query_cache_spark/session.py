"""``CachedSparkSession`` — the engine's single user entry point.

Drop-in analogue of the reference's session wiring
(``with_query_cache``/``with_query_cache_log``, ``src/lib.rs:74-87``) plus
the whole rewrite/planning pipeline that the reference spreads across its
optimizer rule (``src/aggregate.rs:40-213``) and physical planner hook
(``src/aggregate.rs:319-411``), re-expressed as DataFrame program
construction:

* ``sql(q)`` parses ``q`` into the mini-IR; any shape or feature outside the
  cacheable surface runs as plain ``spark.sql(q)`` (the reference's
  ``Transformed::no`` passthrough, ``src/aggregate.rs:85-88``).
* Cacheable aggregates are decomposed into partial state (SURVEY §4.3);
  cache **miss** stores freshly computed state, **hit** unions cached state
  with a lower-bounded fresh scan (``ts >= watermark``) and merges —
  the reference's ``Union[Cached, LowerBounded(partial)] → Final`` plan
  (``src/aggregate.rs:386-409``) as ``unionByName → groupBy().agg(merge)``.

Scale notes (local[32] is the test rig; the design targets a cluster):
* the fresh-scan filter ``pred AND ts >= wm`` sits *below* the aggregation,
  so Catalyst pushes it into the Parquet scan → row-group / partition
  pruning on the temporal column does the heavy lifting;
* the union+merge agg shuffles only the state rows (one per group), not the
  input data — the input-side aggregation is Spark's normal partial/final
  hash aggregate with map-side combine;
* no Python UDFs anywhere on this path: every expression compiles to
  built-in Columns inside whole-stage codegen.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
import os
import time
from collections import OrderedDict
from typing import Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .cache import StateCardinalityExceeded, arrow_to_spark
from .config import QueryCacheConfig
from .functions.compile import to_column
from .functions.partial import NotDecomposable, plan_items
from .plans.classify import (
    Verdict,
    classify,
    find_temporal_group_by,
    split_dynamic_bound,
)
from .plans.ir import AggSpec, Col, Lit, Unsupported
from .plans.parser import parse_agg_query
from .sources.tables import LOCAL_PARQUET_SOURCES
from .tiers import (  # noqa: F401  (Decision re-exported)
    Decision,
    RefreshTiers,
    _order_col,
    _push_time_bounds,
)


from dataclasses import dataclass as _dataclass


@_dataclass(frozen=True)
class AuditBucket:
    """One sampled group bucket's audit outcome: ``diffs`` holds
    ``(column, state_value, recomputed_value)`` triples, empty when ok."""

    key: tuple
    ok: bool
    diffs: tuple = ()


@_dataclass(frozen=True)
class DecisionTrace:
    """Result of :meth:`CachedSparkSession.explain` — the full decision
    trace of one ``sql()`` call: the :class:`Decision` plus every decision-
    log line the planner emitted while handling it (tier choice, watermark,
    fresh-window bounds, narrowing-gate verdicts, tier availability).
    ``str(trace)`` renders the human-readable form; ``trace.df`` is the
    planned result DataFrame (same object ``sql()`` would have returned)."""

    decision: object
    records: tuple = ()
    df: Optional[DataFrame] = None

    def __str__(self) -> str:
        d = self.decision
        lines = [
            f"query:     {d.sql}",
            f"cached:    {d.cached}"
            + (f"  (reason: {d.reason})" if d.reason else ""),
        ]
        if d.fingerprint:
            lines.append(f"fingerprint: {d.fingerprint}")
        if d.cached:
            lines.append(
                f"hit:       {d.cache_hit}"
                + ("  served-from-memo" if d.served_from_memo else "")
            )
            if d.refresh_tier:
                lines.append(f"tier:      {d.refresh_tier}")
            if d.watermark_ns is not None and d.now_ns is not None:
                lines.append(
                    f"fresh window: [{d.watermark_ns}, {d.now_ns}) ns"
                )
            if d.dynamic_lower is not None:
                lines.append(f"dynamic lower: {d.dynamic_lower}")
            fr = d.fresh_rows()
            if fr is not None:
                lines.append(f"fresh rows scanned: {fr}")
            if d.semantic_donor:
                lines.append(f"served from donor: {d.semantic_donor}")
        if self.records:
            lines.append("log:")
            lines.extend(f"  [{r.level}] {r.message}" for r in self.records)
        return "\n".join(lines)


@_dataclass(frozen=True)
class AuditReport:
    """Result of :meth:`CachedSparkSession.audit` — ``ok`` is True when
    every sampled bucket matched, None when there was nothing to audit."""

    fingerprint: str
    ok: Optional[bool]
    buckets: tuple = ()
    reason: str = ""


class CachedSparkSession(RefreshTiers):
    """Wraps a ``SparkSession`` with the incremental aggregate cache."""

    def __init__(self, spark: SparkSession, config: Optional[QueryCacheConfig] = None):
        self.spark = spark
        self.config = config or QueryCacheConfig()
        self.last_decision: Optional[Decision] = None
        self._obs_counter = 0
        # (query, source-schema) → compiled ItemPlans. A standing query
        # re-runs with identical text against the same schema every few
        # seconds; re-deriving the decompositions costs ~70 ms of py4j
        # Column building per call, all of it identical. Keyed on schema so
        # a source change invalidates naturally.
        self._plan_cache: Dict[tuple, list] = {}
        #: (canon, schema) → compiled group/predicate Column handles
        self._col_cache: Dict[tuple, tuple] = {}
        self._spec_cache: Dict[str, object] = {}
        #: driver-memory hygiene for STANDING sessions serving ad-hoc SQL:
        #: each distinct query string/shape adds a spec/plan/tier-program memo
        #: entry forever. Past this many entries a memo is cleared whole —
        #: a rare, cheap full re-derive beats an unbounded driver heap (the
        #: memos exist for REPEATED queries; an ad-hoc flood has no reuse
        #: to lose). The durable state cache is governed separately
        #: (ParquetQueryCache ttl/bytes, MemoryQueryCache max_entries).
        self._MEMO_MAX = 10_000
        # (tier, query, source schema, state schema) → memoized nano/lite
        # refresh program (or None = the tier refuses this shape). A lite
        # program's Spark job is ONE SQL string with watermark placeholders,
        # so a standing query pays a single JVM parse instead of hundreds of
        # py4j round-trips of DataFrame program rebuilding.
        self._tpl_cache: Dict[tuple, Optional[dict]] = {}
        #: composite planners (FULL OUTER) pin ONE evaluation instant here
        #: so every sub-plan and the fresh anti side agree on now() —
        #: otherwise the halves could disagree near bound edges
        self._now_pin: Optional[int] = None
        #: parquet path → (on-disk bytes, monotonic stamp): 60s memo for
        #: the refresh-narrowing byte gate (tiers._narrow_refresh_ok)
        self._src_bytes_memo: Dict[str, tuple] = {}
        #: debug/observability: the refresh program of the last cached run
        #: (the augmented state+finalize DataFrame), for plan inspection
        self.last_refresh_df: Optional[DataFrame] = None
        #: fingerprint → (FilterSpec, out column names) for every filter
        #: entry this session stored — the donor index for semantic
        #: subsumption (serve `value > 2` from the `value > 1` row set)
        self._filter_registry: Dict[str, tuple] = {}
        #: aggregate fingerprints already tagged for the durable
        #: bucket-coarsening donor index
        self._agg_registry: set = set()
        #: (fingerprint, wm-key, post) → finalized, driver-local result
        #: DataFrame. wm-key is the state watermark, or ("dyn", watermark,
        #: now) for a dynamic bound; post is the post-finalize shape (see
        #: _memo_result). See QueryCacheConfig.result_memo; bounded LRU.
        self._result_memo: "OrderedDict[tuple, DataFrame]" = OrderedDict()
        #: (fingerprint, post) → per-bucket top-k summaries of a layered
        #: dynamic-bound top-k (see _bucket_topk); bounded LRU
        self._topk_summaries: "OrderedDict[tuple, dict]" = OrderedDict()
        #: fingerprints whose percentile histogram state exceeded
        #: config.percentile_max_distinct — permanently passthrough this
        #: session (the store bailed once; re-trying would redo the work
        #: just to bail again).
        self._hist_denied: set = set()
        #: fingerprint → the plan pieces audit() needs to recompute sampled
        #: buckets of a cached entry from the raw table (trust-but-verify)
        self._audit_info: Dict[str, dict] = {}

    _RESULT_MEMO_MAX = 128
    _TOPK_SUMMARIES_MAX = 32

    def _session_tz(self) -> str:
        """The session timezone, part of every fingerprint: bucket values
        (date_trunc/to_date) are tz-dependent, so two sessions with
        different ``spark.sql.session.timeZone`` sharing one durable cache
        must NOT share entries — a Chicago session hitting UTC-built state
        silently returned UTC-bucketed answers (r12 find). Refetched per
        plan (the conf is runtime-mutable); one tiny py4j call."""
        try:
            return self.spark.conf.get("spark.sql.session.timeZone") or "?"
        except Exception:
            return "?"

    def _memo_result(
        self, fingerprint: str, wm_ns: Optional[int], df: DataFrame, post=None
    ):
        """Memoize a finalized result. ``post`` is the POST-FINALIZE shape
        (select order, ORDER BY, LIMIT) — the fingerprint deliberately
        excludes it (those clauses sit above the cached state and share
        the entry), so it must key the memo separately: without it,
        ``… LIMIT 2`` hot-served its 2 rows to a later ``… LIMIT 4`` /
        ``… ORDER BY 1 DESC`` of the same fingerprint (r12 find)."""
        if not self.config.result_memo or wm_ns is None:
            return
        memo = self._result_memo
        memo[(fingerprint, wm_ns, post)] = df
        memo.move_to_end((fingerprint, wm_ns, post))
        while len(memo) > self._RESULT_MEMO_MAX:
            memo.popitem(last=False)

    def _memo_get(self, fingerprint: str, wm_ns, post=None):
        """The memoized result under ``(fingerprint, wm_ns, post)``, or None
        (always None with ``result_memo`` off)."""
        if not self.config.result_memo:
            return None
        key = (fingerprint, wm_ns, post)
        df = self._result_memo.get(key)
        if df is not None:
            self._result_memo.move_to_end(key)
        return df

    def _memo_key_of(self, df: DataFrame) -> Optional[tuple]:
        """The memo key ``df`` is stored under (identity match), or None."""
        for key, val in reversed(self._result_memo.items()):
            if val is df:
                return key
        return None

    def _memo_collect(
        self, fingerprint: str, wm_ns, df: DataFrame, post=None
    ) -> DataFrame:
        """Collect a bounded result to Arrow once, re-enter Spark as a
        LocalRelation and memoize that: every re-read at the same key is
        then served with no Spark job, and the caller's own action on the
        returned frame runs none either. With ``result_memo`` off, ``df``
        is returned as it is (lazy)."""
        if not self.config.result_memo:
            return df
        out = arrow_to_spark(self.spark, df.toArrow(), schema=df.schema)
        self._memo_result(fingerprint, wm_ns, out, post)
        return out

    # -- public API ---------------------------------------------------------

    def explain(self, sql: str) -> "DecisionTrace":
        """One-call decision trace: run the planning pipeline for ``sql``
        exactly as :meth:`sql` would (including any warm refresh — this IS
        the refresh trace, the analogue of the reference's ``EXPLAIN
        ANALYZE`` demo, ``examples/demo.rs:52-63``) and return the
        :class:`DecisionTrace`: tier chosen, fingerprint, watermark,
        fresh-window bounds, narrowing-gate verdicts, and every decision-
        log line emitted for this call. Answers "why wasn't this cached?"
        self-serve; the 100×-scale plan review reads the same trace.

        The session's configured log still receives every record (the
        trace tees, it does not divert)."""
        from .log import AbstractLog, HistoryLog

        outer = self.config.log
        tape = HistoryLog()

        class _Tee(AbstractLog):
            def info(self, fingerprint: str, message: str) -> None:
                outer.info(fingerprint, message)
                tape.info(fingerprint, message)

            def warn(self, fingerprint: str, message: str) -> None:
                outer.warn(fingerprint, message)
                tape.warn(fingerprint, message)

        self.config.log = _Tee()
        try:
            df = self.sql(sql)
        finally:
            self.config.log = outer
        return DecisionTrace(
            decision=self.last_decision,
            records=tuple(tape.history()),
            df=df,
        )

    def _audit_filter(self, fingerprint, info, entry, state, wm_ns, buckets):
        """Audit a row-set (filter) entry: hash-bucket row counts of the
        stored rows vs a bounded raw recompute. A late row (ts < watermark
        arriving after the run) lands in exactly one bucket's count. For
        maintained top-k entries the whole k-row set compares directly.
        Both sides hash in SPARK, so the bucket function is engine-
        consistent by construction."""
        from .tiers import _push_time_bounds

        spec = info["spec"]
        out_names = info["out_names"]
        state = state.select(
            *[c for c in state.columns if not c.startswith("__qc")]
        )
        ts_col = info["ts_col"]
        base = _push_time_bounds(
            self.spark.table(info["tables"][0]), ts_col, f"{ts_col}_ns",
            None, wm_ns,
            to_column(spec.predicate) if spec.predicate is not None else None,
        )
        if spec.items is not None:
            base = base.select(
                *[to_column(i.expr).alias(i.name) for i in spec.items]
            )
        else:
            base = base.select(*state.columns)

        if info["topk"]:
            # maintained top-k: k rows — compare the sets directly
            from .tiers import _order_col

            cols = [
                _order_col(o.expr.name, o)
                for o in spec.order_by
                if hasattr(o.expr, "name")
            ]
            want = base.orderBy(*cols).limit(spec.limit).collect()
            got = state.collect()
            ok = sorted(map(tuple, got), key=repr) == sorted(
                map(tuple, want), key=repr
            )
            lvl = self.config.log.info if ok else self.config.log.warn
            lvl(
                fingerprint,
                f"audit: top-k {'OK' if ok else 'DIVERGED'} "
                f"({len(got)} state rows vs {len(want)} recomputed)",
            )
            return AuditReport(
                fingerprint, ok=ok,
                buckets=(AuditBucket(key=("topk",), ok=ok),),
            )

        bucket = F.pmod(
            F.hash(*[F.col(c) for c in state.columns]), F.lit(buckets)
        ).alias("__b")
        s_counts = {
            r["__b"]: r["n"]
            for r in state.select(bucket)
            .groupBy("__b").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        r_counts = {
            r["__b"]: r["n"]
            for r in base.select(bucket)
            .groupBy("__b").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        results = []
        for b in range(buckets):
            sv, rv = s_counts.get(b, 0), r_counts.get(b, 0)
            ok = sv == rv
            results.append(
                AuditBucket(
                    key=(b,), ok=ok,
                    diffs=() if ok else (("rows", sv, rv),),
                )
            )
            if not ok:
                self.config.log.warn(
                    fingerprint,
                    f"audit: bucket {b} DIVERGED (state {sv} rows vs "
                    f"recompute {rv})",
                )
        all_ok = all(b.ok for b in results)
        self.config.log.info(
            fingerprint,
            f"audit: {sum(b.ok for b in results)}/{buckets} row-set "
            f"buckets OK",
        )
        return AuditReport(fingerprint, ok=all_ok, buckets=tuple(results))

    def audit(
        self,
        fingerprint: str,
        buckets: int = 8,
        rel_tol: float = 1e-6,
        abs_tol: float = 1e-9,
    ) -> "AuditReport":
        """Trust-but-verify: recompute ``buckets`` sampled group buckets of
        a cached aggregate entry from the RAW table and compare against the
        finalized cached state, logging per-bucket equality through the
        decision log.

        The cache's append-only contract silently drops late data (a row
        with ``ts < watermark`` arriving after the run is in neither the
        state nor any future fresh scan — SURVEY §4.4.1, identical to the
        reference). This is the production hook that makes the contract
        CHECKABLE: a late-row divergence shows up as a bucket mismatch (the
        recompute sees the row, the state doesn't). The demo's
        cached-vs-uncached printout (reference ``examples/demo.rs:43-50``)
        is the same oracle run by eyeball; this is its API form.

        At 100 TB: ONE scan of the raw table, bounded by the entry's
        predicate + ``ts < watermark`` (both pushed down) and the sampled
        group keys (an IN-style pushed filter); only O(buckets) rows reach
        the driver. The sampled keys are the first ``buckets`` groups in
        key order — deterministic across calls.

        Only aggregate entries planned by THIS session are auditable (the
        recompute needs the compiled plan); raises ``KeyError`` otherwise.
        Returns an :class:`AuditReport`; ``report.ok`` is True when every
        sampled bucket matches (floats within rel/abs tolerance, everything
        else exact, NaN == NaN).
        """
        import math

        from .tiers import _push_time_bounds

        info = self._audit_info.get(fingerprint)
        if info is None:
            raise KeyError(
                "audit: fingerprint not planned by this session "
                "(run the query through .sql() first)"
            )
        entry = self.config.cache.entry(fingerprint)
        if not entry.occupied:
            self.config.log.info(fingerprint, "audit: no cache entry")
            return AuditReport(fingerprint, ok=None, buckets=(),
                               reason="no cache entry")
        wm_ns = entry.watermark_ns
        state = entry.state_df(self.spark)
        if state is None:  # in-memory backends have no file-backed form
            tbl = entry.get_arrow()
            if tbl is None:
                self.config.log.info(fingerprint, "audit: state unreadable")
                return AuditReport(fingerprint, ok=None, buckets=(),
                                   reason="state unreadable")
            state = arrow_to_spark(self.spark, tbl)
        if info.get("kind") == "filter":
            report = self._audit_filter(fingerprint, info, entry, state,
                                        wm_ns, buckets)
            return self._audit_maybe_heal(fingerprint, entry, report)
        group_names = info["group_names"]
        plans = info["plans"]
        out_items = [p for p in plans if p.name != "__qc_having"]

        # finalized view of the cached state (merge → finalize — state is
        # stored compacted, but merging first is correct for any row count)
        merged = (
            state.groupBy(*[F.col(n) for n in group_names]).agg(
                *[c.alias(n) for n, c in info["merge_aggs"].items()]
            )
            if group_names
            else state.groupBy().agg(
                *[c.alias(n) for n, c in info["merge_aggs"].items()]
            )
        )
        fin_state = merged.select(
            *[F.col(n) for n in group_names],
            *[p.finalize.alias(p.name) for p in out_items],
        )
        if group_names:
            fin_state = fin_state.orderBy(*[F.col(n) for n in group_names])
        state_rows = fin_state.limit(buckets).collect()
        if not state_rows:
            self.config.log.info(fingerprint, "audit: state is empty")
            return AuditReport(fingerprint, ok=True, buckets=(),
                               reason="state is empty")

        # recompute those buckets from the raw table, as-of the watermark
        spec = info["spec"]
        frames = {t: self.spark.table(t) for t in info["tables"]}
        base = frames[info["tables"][0]]
        for step in spec.join_steps:
            if step.using:
                base = base.join(frames[step.table], list(step.using), step.how)
            elif step.on is not None:
                base = base.join(frames[step.table], to_column(step.on), step.how)
            else:
                base = base.crossJoin(frames[step.table])
        ts_col = info["ts_col"]
        base = _push_time_bounds(
            base, ts_col, f"{ts_col}_ns", None, wm_ns, info["pred"]
        )
        gexprs = [to_column(g.expr) for g in info["state_group"]]
        if group_names:
            key_cond = None
            for r in state_rows:
                conj = None
                for g, ge in zip(group_names, gexprs):
                    c = ge.eqNullSafe(F.lit(r[g]))
                    conj = c if conj is None else (conj & c)
                key_cond = conj if key_cond is None else (key_cond | conj)
            base = base.filter(key_cond)
            grouped = base.groupBy(
                *[ge.alias(n) for n, ge in zip(group_names, gexprs)]
            )
        else:
            grouped = base.groupBy()
        recomputed = grouped.agg(
            *[c.alias(n) for n, c in info["partial_aggs"].items()]
        ).select(
            *[F.col(n) for n in group_names],
            *[p.finalize.alias(p.name) for p in out_items],
        )
        by_key = {
            tuple(r[n] for n in group_names): r for r in recomputed.collect()
        }

        def _eq(a, b) -> bool:
            if a is None or b is None:
                return a is None and b is None
            if isinstance(a, float) or isinstance(b, float):
                fa, fb = float(a), float(b)
                if math.isnan(fa) or math.isnan(fb):
                    return math.isnan(fa) and math.isnan(fb)
                return math.isclose(fa, fb, rel_tol=rel_tol, abs_tol=abs_tol)
            return a == b

        results = []
        names = [p.name for p in out_items]
        for r in state_rows:
            key = tuple(r[n] for n in group_names)
            want = by_key.get(key)
            diffs = []
            if want is None:
                # the group exists in state but not in the raw recompute:
                # e.g. every raw row of the group was deleted/rewritten —
                # an append-only violation by definition
                diffs = [(n, r[n], None) for n in names]
            else:
                for n in names:
                    if not _eq(r[n], want[n]):
                        diffs.append((n, r[n], want[n]))
            ok = not diffs
            results.append(AuditBucket(key=key, ok=ok, diffs=tuple(diffs)))
            if ok:
                self.config.log.info(fingerprint, f"audit: bucket {key} OK")
            else:
                self.config.log.warn(
                    fingerprint,
                    f"audit: bucket {key} DIVERGED "
                    f"(state vs recompute): {diffs[:3]}",
                )
        all_ok = all(b.ok for b in results)
        self.config.log.info(
            fingerprint,
            f"audit: {sum(b.ok for b in results)}/{len(results)} buckets OK",
        )
        return self._audit_maybe_heal(
            fingerprint,
            entry,
            AuditReport(fingerprint, ok=all_ok, buckets=tuple(results)),
        )

    def _audit_maybe_heal(self, fingerprint, entry, report):
        """Apply ``config.audit_heal`` to a finished audit: under
        ``'invalidate'``, a diverged report drops the entry's state +
        watermark (and this session's result memos for it) so the NEXT
        query plans a full recompute and stores fresh state — the same
        loop the corruption self-heal has for unreadable state."""
        if report.ok is not False:
            return report
        policy = getattr(self.config, "audit_heal", "off")
        if policy != "invalidate":
            return report
        healed = entry.invalidate()
        for key in [k for k in self._result_memo if k[0] == fingerprint]:
            self._result_memo.pop(key, None)
        if healed:
            self.config.log.warn(
                fingerprint,
                "audit: diverged — entry INVALIDATED (audit_heal); next "
                "query recomputes from the raw table",
            )
        else:
            self.config.log.warn(
                fingerprint,
                "audit: diverged — backend does not support invalidation",
            )
        return report

    def _cols_sig(self, name: str):
        """Current column tuple of ``name`` (None if unresolvable) — the
        revalidation signature for schema-consulting spec memo entries."""
        cols = self._table_columns(name)
        return tuple(cols) if cols is not None else None

    def _table_columns(self, name: str):
        """Registered-view/table column names for the parser's
        NATURAL-join de-sugaring; None when the name doesn't resolve
        (the parser then leaves the join NATURAL → passthrough)."""
        try:
            return self.spark.table(name).columns
        except Exception:
            return None

    def sql(self, query: str) -> DataFrame:
        """Run ``query``; transparently incremental when cache-eligible."""
        try:
            from .plans.ir import FilterSpec, SubquerySpec, UnionSpec
            from .plans.parser import parse_query

            # The parse binds CURRENT view schemas into the spec wherever
            # it consults the catalog (NATURAL de-sugaring's common-column
            # set, the qualified-ref membership check's per-relation column
            # sets). A re-registered view with a different column set would
            # make a memoized spec stale — and a stale membership set can
            # flip a refusal into a silent wrong answer (r15 ADVICE). So
            # the memo RECORDS which schemas the parse consulted and
            # revalidates them on every hit; schema-independent parses
            # (consulted empty — the overwhelming majority) validate for
            # free. This also drops the old over-broad "natural" substring
            # guard: only parses that actually touched schemas pay.
            spec = None
            memo = self._spec_cache.get(query)
            if memo is not None:
                m_spec, consulted = memo
                if all(
                    self._cols_sig(t) == sig
                    for t, sig in consulted.items()
                ):
                    spec = m_spec
            if spec is None:
                consulted: Dict[str, object] = {}

                def _lookup(name: str):
                    cols = self._table_columns(name)
                    consulted[name] = (
                        tuple(cols) if cols is not None else None
                    )
                    return cols

                spec = parse_query(query, schema_lookup=_lookup)
                if len(self._spec_cache) >= self._MEMO_MAX:
                    self._spec_cache.clear()
                self._spec_cache[query] = (spec, dict(consulted))
            from .plans.parser import (
                scalar_subqueries,
                select_scalar_subqueries,
            )

            subqs = scalar_subqueries(spec)
            sel_subqs = select_scalar_subqueries(spec)
            if subqs or (sel_subqs and isinstance(spec, FilterSpec)):
                # predicate/HAVING subqueries, or select-item scalars on a
                # non-aggregate outer (the outer runs plain either way)
                try:
                    df, decision = self._plan_scalar_outer(
                        spec, query, subqs + sel_subqs
                    )
                except (Unsupported, NotDecomposable):
                    # r16: outer shapes _plan_scalar_outer can't assemble
                    # (star joins, FULL composites) still cache when every
                    # subquery is STATIC — the literal fold embeds the
                    # values in the outer's fingerprint (the nested-fold
                    # soundness argument). Plain-assemblable outers keep
                    # the plain path above: for those, NOT caching the
                    # outer is the better design (no entry churn when the
                    # inner value moves with data growth).
                    from .plans.parser import _nested_scalars_foldable

                    if (
                        isinstance(spec, AggSpec)
                        and not sel_subqs
                        and all(
                            e is None or _nested_scalars_foldable(e)
                            for e in (spec.predicate, spec.having)
                        )
                    ):
                        df, decision = self._plan_cached(query, spec)
                    else:
                        raise
            elif sel_subqs:
                df, decision = self._plan_select_scalars(
                    spec, query, sel_subqs
                )
            elif isinstance(spec, FilterSpec):
                df, decision = self._plan_filter(spec, query)
            elif isinstance(spec, SubquerySpec):
                df, decision = self._plan_subquery(spec, query)
            elif isinstance(spec, UnionSpec):
                df, decision = self._plan_union(spec, query)
            else:
                df, decision = self._plan_cached(query, spec)
        except (Unsupported, NotDecomposable) as e:
            decision = Decision(sql=query, cached=False, reason=str(e))
            self.config.log.info("-", f"not cacheable: {e}")
            # record BEFORE executing the passthrough: when the query is
            # beyond Spark itself (QUALIFY, quantified ANY, DISTINCT ON),
            # spark.sql raises, and last_decision must still say why the
            # engine declined (observability survives the error)
            self.last_decision = decision
            df = self.spark.sql(query)
        except StateCardinalityExceeded as e:
            # percentile-histogram or count(DISTINCT) set state would be
            # O(distinct)/group past the configured bound: mark the
            # fingerprint and degrade to passthrough — correct results, no
            # runaway state.
            self._hist_denied.add(e.fingerprint)
            decision = Decision(sql=query, cached=False, reason=str(e))
            self.config.log.warn(e.fingerprint, str(e))
            df = self.spark.sql(query)
        except Exception as e:  # noqa: BLE001 — degrade, never fail a query
            # Any unexpected error in the CACHED plan build (an analysis
            # edge the decomposer missed, a cache backend fault) must not
            # fail a query plain Spark could answer — the reference's
            # ``Transformed::no`` contract extended to engine faults. Loud
            # warn so the degrade is visible; genuinely bad user SQL fails
            # identically in the passthrough below, so nothing is hidden.
            # Test/fuzz rigs set strict_errors (or QC_STRICT_ERRORS=1) so
            # engine regressions fail CI loudly instead of silently
            # un-caching queries behind a log line (r9 ADVICE).
            if self._strict_errors():
                raise
            decision = Decision(
                sql=query, cached=False, reason=f"engine error: {e}"
            )
            self.config.log.warn("-", f"engine error, passthrough: {e}")
            df = self.spark.sql(query)
        self.last_decision = decision
        return df

    def _strict_errors(self) -> bool:
        """Strict mode: engine faults raise instead of degrading (CI rigs)."""
        if getattr(self.config, "strict_errors", False):
            return True
        return os.environ.get("QC_STRICT_ERRORS", "").lower() in ("1", "true")

    # -- planning -----------------------------------------------------------

    def _now_ns(self) -> int:
        # reference: override_now or query_execution_start_time
        # (``src/aggregate.rs:375-382``) — captured once per query, plan time.
        if self.config.override_now_ns is not None:
            return self.config.override_now_ns
        if self._now_pin is not None:
            return self._now_pin
        return time.time_ns()

    def _pin_now(self, rhs_expr, now_ns: int):
        """Rewrite every now()/current_date() node in ``rhs_expr`` to the
        pinned plan-time instant (mirrors the reference's
        query_execution_start_time capture, ``src/aggregate.rs:375-382``)."""
        from .plans.ir import BinOp as _BinOp, Cast as _Cast, Func as _Func
        from .plans.ir import Lit as _Lit, Neg as _Neg

        # Epoch-based now literal (timestamp_micros), NOT a wall-clock
        # string: a string literal is re-interpreted in the session timezone,
        # shifting the bound by the UTC offset on non-UTC sessions relative
        # to passthrough now().
        now_node = _Func("make_timestamp", (_Lit(now_ns // 1000, "BIGINT"),))

        def rec(x):
            if isinstance(x, _Func):
                nl = x.name.lower()
                if nl in (
                    "now",
                    "current_timestamp",
                    "localtimestamp",
                    "get_current_timestamp",
                    "transaction_timestamp",
                ):
                    return now_node
                if nl in ("current_date", "today"):
                    # date-in-session-tz of the pinned now — matches what
                    # passthrough current_date() evaluates to.
                    return _Cast(now_node, "DATE")
                return _Func(x.name, tuple(rec(a) for a in x.args))
            if isinstance(x, _BinOp):
                return _BinOp(x.op, rec(x.left), rec(x.right))
            if isinstance(x, _Cast):
                return _Cast(rec(x.child), x.to_type)
            if isinstance(x, _Neg):
                return _Neg(rec(x.child))
            return x

        return rec(rhs_expr)

    def _eval_bound_value(self, rhs_expr, now_ns: int):
        """Evaluate ``f(now())`` once at plan time with now pinned.
        Returns a python datetime/date.

        All the one-row scalar evals here use ``range(0, 1, 1, 1)``: a
        bare ``range(1)`` defaults to ``defaultParallelism`` partitions,
        so each per-refresh scalar eval paid a 32-empty-task job."""
        col = to_column(self._pin_now(rhs_expr, now_ns))
        v = self.spark.range(0, 1, 1, 1).select(col.alias("v")).collect()[0]["v"]
        if v is None:
            raise Unsupported("dynamic bound evaluated to NULL")
        return v

    def _eval_bucket(self, granularity: str, lower):
        """date_trunc the evaluated bound — via Spark so week/month/calendar
        semantics match the engine exactly."""
        return (
            self.spark.range(0, 1, 1, 1)
            .select(F.date_trunc(granularity, F.lit(lower)).alias("b"))
            .collect()[0]["b"]
        )

    _BUCKET_INTERVAL = {
        "minute": "INTERVAL '1' MINUTE",
        "hour": "INTERVAL '1' HOUR",
        "day": "INTERVAL '1' DAY",
        "dd": "INTERVAL '1' DAY",
        "week": "INTERVAL '7' DAY",
        "month": "INTERVAL '1' MONTH",
        "mon": "INTERVAL '1' MONTH",
        "mm": "INTERVAL '1' MONTH",
        "quarter": "INTERVAL '3' MONTH",
        "year": "INTERVAL '1' YEAR",
        "yyyy": "INTERVAL '1' YEAR",
        "yy": "INTERVAL '1' YEAR",
    }

    @staticmethod
    def _wm_bucket_col(wm_ns: int, granularity: str) -> Column:
        """A state watermark truncated to its bucket, JVM-side (session-
        timezone calendar semantics, matching how state buckets are
        computed)."""
        return F.date_trunc(
            granularity, F.timestamp_micros(F.lit(wm_ns // 1000))
        ).alias("wb")

    def _eval_bound_and_bucket(
        self, rhs_expr, now_ns: int, granularity: str, wm_ns=None
    ):
        """Bound value, its bucket truncation, their epoch-µs forms, the
        epoch-µs end of the boundary bucket, and (given ``wm_ns``) the old
        watermark's bucket the tail store starts at — ONE driver-local job
        (the dynamic warm path runs per refresh, so the tiny range(1)
        collects are folded together). The epochs are computed JVM-side via
        ``unix_micros`` in the SESSION timezone; the CLASSIC dyn assembly
        binds them as its boundary-scan range (no Python-side timezone
        assumption, no DST slack — the bucket end is ``date_trunc +
        INTERVAL``, calendar-exact in any tz). The lite tier never calls
        this for a non-empty refresh: it renders the bound as a
        constant-folded expression instead. Returns ``(value, bucket,
        value_us, bucket_us, bucket_end_us | None, wm_bucket | None)``.

        Under a UTC session, for the bound shapes and granularities nano's
        Python calendar mirror admits, the same tuple is computed on the
        driver with no job (:meth:`_py_bound_and_bucket`)."""
        py = self._py_bound_and_bucket(rhs_expr, now_ns, granularity, wm_ns)
        if py is not None:
            return py
        col = to_column(self._pin_now(rhs_expr, now_ns))
        b = F.date_trunc(granularity, col)
        iv = self._BUCKET_INTERVAL.get(granularity.lower())
        cols = [
            col.alias("v"),
            b.alias("b"),
            F.unix_micros(col.cast("timestamp")).alias("v_us"),
            F.unix_micros(b.cast("timestamp")).alias("b_us"),
        ]
        if iv is not None:
            cols.append(
                F.unix_micros((b + F.expr(iv)).cast("timestamp")).alias("be_us")
            )
        if wm_ns is not None:
            cols.append(self._wm_bucket_col(wm_ns, granularity))
        row = self.spark.range(0, 1, 1, 1).select(*cols).collect()[0]
        if row["v"] is None:
            raise Unsupported("dynamic bound evaluated to NULL")
        be_us = row["be_us"] if iv is not None else None
        wb = row["wb"] if wm_ns is not None else None
        return row["v"], row["b"], row["v_us"], row["b_us"], be_us, wb

    def _utc_session_and_driver(self) -> bool:
        """Both the session and the driver process run on UTC: then a
        naive datetime means the same instant to Python, to PySpark's
        ``F.lit`` (process zone) and to the JVM (session zone), and nano's
        calendar mirror equals Spark's."""
        return self._session_tz() == "UTC" and not (time.timezone or time.altzone)

    def _py_bound_and_bucket(
        self, rhs_expr, now_ns: int, granularity: str, wm_ns=None
    ):
        """:meth:`_eval_bound_and_bucket`'s tuple from nano's Python mirror
        (``eval_bound``, ``trunc_dt``, ``bucket_end``), or None when the
        mirror is not exact: a session or driver zone other than UTC, a
        bound shape or granularity nano refuses. Saves the one-row bound
        job on every classic dynamic refresh (one of the two jobs perfbench
        ``big_state`` refreshes shed, see :meth:`_bucket_topk`)."""
        from . import nano

        if not self._utc_session_and_driver():
            return None
        try:
            nano.validate_bound_expr(rhs_expr)
            v = nano.eval_bound(rhs_expr, now_ns)
            b = nano.trunc_dt(v, granularity)
            be_us = (
                nano._us_of(nano.bucket_end(b, granularity))
                if granularity.lower() in self._BUCKET_INTERVAL
                else None
            )
            wb = (
                nano.trunc_dt(nano._dt_of_us(wm_ns // 1000), granularity)
                if wm_ns is not None
                else None
            )
        except nano.NanoUnsupported:
            return None
        return v, b, nano._us_of(v), nano._us_of(b), be_us, wb

    def _wm_bucket_value(self, wm_ns: int, granularity: str):
        """The state watermark's bucket, the lower bound of a layered
        refresh's tail. Under a UTC session and driver, nano's calendar
        mirror (``trunc_dt``) computes it with no job, as
        :meth:`_py_bound_and_bucket` does; other zones and granularities
        run the one-row JVM job (:meth:`_wm_bucket_col`)."""
        from . import nano

        if self._utc_session_and_driver():
            try:
                return nano.trunc_dt(nano._dt_of_us(wm_ns // 1000), granularity)
            except nano.NanoUnsupported:
                pass
        return (
            self.spark.range(0, 1, 1, 1)
            .select(self._wm_bucket_col(wm_ns, granularity))
            .collect()[0]["wb"]
        )

    def _plan_filter(self, spec, query: str):
        """Simple filter (non-aggregate) query caching — the reference's
        second unchecked roadmap box (``README.md:130``).

        State is the filtered/projected ROW SET itself (bag-union monoid):
        refresh appends only rows in ``[watermark, now)`` — O(new data), the
        same exact window tiling as the aggregate path. With ORDER BY +
        LIMIT the state is instead the maintained top-k (top-k of
        ``topk(old) ∪ fresh`` ≡ top-k of the whole history), so the stored
        state stays k rows no matter how much data flows through.
        """
        cfg = self.config

        cls = classify(spec.predicate, cfg.temporal_columns)
        if cls.verdict is not Verdict.STABLE:
            raise Unsupported(
                f"filter predicate not stable: {cls.reason or cls.verdict.value}"
            )
        for item in spec.items or ():
            if classify(item.expr, cfg.temporal_columns).verdict is not Verdict.STABLE:
                raise Unsupported(f"non-deterministic select item {item.name}")
        if spec.limit is not None and not spec.order_by:
            raise Unsupported("LIMIT without ORDER BY selects arbitrary rows")

        ts_col = cfg.default_temporal_column
        base = self.spark.table(spec.table)
        if ts_col not in base.columns:
            raise Unsupported(f"temporal column {ts_col} not in table {spec.table}")

        out_names = (
            list(base.columns)
            if spec.items is None
            else [i.name for i in spec.items]
        )

        def project(df: DataFrame) -> DataFrame:
            if spec.items is None:
                return df
            return df.select(*[to_column(i.expr).alias(i.name) for i in spec.items])

        def sort_items():
            items = []
            for o in spec.order_by:
                if isinstance(o.expr, Col) and o.expr.name in out_names:
                    name = o.expr.name
                elif isinstance(o.expr, Lit) and isinstance(o.expr.value, int):
                    idx = o.expr.value - 1
                    if not 0 <= idx < len(out_names):
                        raise Unsupported("order-by position out of range")
                    name = out_names[idx]
                else:
                    for i in spec.items or ():
                        if i.expr == o.expr:
                            name = i.name
                            break
                    else:
                        raise Unsupported("order by expression not in select list")
                items.append((name, o))
            return items

        def sort_cols():
            return [_order_col(n, o) for n, o in sort_items()]

        topk = spec.limit is not None
        fingerprint = (
            f"{spec.canon()}|ts={ts_col}|schema={base.schema.simpleString()}"
            f"|tz={self._session_tz()}"
        )
        now_ns = self._now_ns()
        entry = cfg.cache.entry(fingerprint)
        shadow = f"{ts_col}_ns"

        # trust-but-verify hook: audit() recomputes hash-bucket counts of
        # the row set from the raw table (kind="filter")
        if len(self._audit_info) >= self._MEMO_MAX:
            self._audit_info.clear()
        self._audit_info[fingerprint] = {
            "kind": "filter",
            "spec": spec,
            "ts_col": ts_col,
            "tables": [spec.table],
            "out_names": out_names,
            "topk": topk,
        }

        # Non-top-k row-set state IS the result set — it grows with the data
        # (unlike aggregate state). Two guards (VERDICT r2 item 6):
        # 1. size cap: past config.filter_state_max_rows the query stops
        #    being cached (passthrough) instead of growing state silently;
        # 2. layout: state is stored hive-partitioned by the temporal DATE
        #    (hidden `__qc_d` column) so temporally-bounded reads of the
        #    state — semantic-donor replays, downstream consumers — prune
        #    whole directories.
        part_col = "__qc_d"
        if not topk and cfg.filter_state_max_rows is not None:
            known_rows = entry.state_rows()
            if known_rows is not None and known_rows > cfg.filter_state_max_rows:
                raise Unsupported(
                    f"filter row-set state ({known_rows} rows) exceeds "
                    f"filter_state_max_rows={cfg.filter_state_max_rows}"
                )

        def project_store(df: DataFrame) -> DataFrame:
            """Projection for the STORED row set: user columns + the hidden
            date partition column (derived pre-projection, so it exists even
            when the query doesn't select the temporal column)."""
            if topk:
                return project(df)
            d = F.to_date(F.col(ts_col)).alias(part_col)
            if spec.items is None:
                return df.withColumn(part_col, F.to_date(F.col(ts_col)))
            return df.select(
                *[to_column(i.expr).alias(i.name) for i in spec.items], d
            )

        def bounds(df, lo_ns=None, hi_ns=None):
            # the predicate joins the bounds' one filter
            return _push_time_bounds(df, ts_col, shadow, lo_ns, hi_ns, pred)

        decision = Decision(
            sql=query, cached=True, fingerprint=fingerprint, now_ns=now_ns
        )

        hit = entry.occupied
        # stale: the entry holds state that failed validation — every
        # recompute store below must REPLACE it, or append would return
        # stale-state ∪ recompute (duplicated rows)
        stale = False
        expected = out_names if topk else out_names + [part_col]
        state: Optional[DataFrame] = None
        if hit:
            try:
                # metadata-only column check when the backend supports it;
                # the state DataFrame itself is built lazily (the driver
                # top-k tier never needs it)
                cols = entry.state_columns()
                if cols is None:
                    state = entry.get(self.spark)
                    cols = list(state.columns)
                if list(cols) != expected and set(cols) != set(expected):
                    cfg.log.warn(fingerprint, "filter state schema mismatch; recompute")
                    hit = False
                    stale = True
                elif not entry.verify_state_files():
                    # the row-set result LAZILY scans the state parquet at
                    # the caller's action — a corrupt part must self-heal
                    # HERE (plan time), not as the caller's read error
                    cfg.log.warn(
                        fingerprint, "filter state failed integrity check; recompute"
                    )
                    hit = False
                    stale = True
            except Exception as e:
                cfg.log.warn(fingerprint, f"filter state unreadable ({e}); recompute")
                hit = False
                stale = True

        hot = hit and entry.watermark_ns is not None and now_ns <= entry.watermark_ns
        if hot and topk:
            memo = self._memo_get(fingerprint, entry.watermark_ns)
            if memo is not None:
                # the driver top-k tier finalized this watermark already;
                # looked up before the predicate and source frames are
                # built, so the hit pays none of their py4j calls
                decision.cache_hit = True
                decision.watermark_ns = entry.watermark_ns
                decision.served_from_memo = True
                cfg.log.info(fingerprint, "filter cache hit: result memo (no Spark work)")
                return memo, decision

        pred = to_column(spec.predicate) if spec.predicate is not None else None

        def store_wm(lo_ns: Optional[int]) -> int:
            """Watermark to store (config.watermark_mode): query time, or
            max(ts)+1 over this refresh's (pruned) window for late-data
            safety — the filter-path twin of the aggregate path's rule.

            MUST be computed BEFORE the store scan, which is then bounded
            by ``hi_ns=swm``: the max job and the store job are separate
            Spark jobs, so a row landing between them with event time above
            the collected max would otherwise be folded into the stored
            rows while the watermark stays below it — re-appended (duplicate)
            on the next refresh (ADVICE r3, medium)."""
            if cfg.watermark_mode != "data":
                return now_ns
            mdf = bounds(base, lo_ns=lo_ns, hi_ns=now_ns)
            if shadow in base.columns:
                mxc = F.max(F.col(shadow))
            else:
                mxc = F.max(
                    F.unix_micros(F.col(ts_col).cast("timestamp")) * F.lit(1000)
                )
            mx = mdf.agg(mxc.alias("mx")).collect()[0]["mx"]
            if mx is not None:
                return int(mx) + 1
            return lo_ns if lo_ns is not None else 0

        def topk_nano_stored(wm_ns: Optional[int], swm: int, cold_schema=None):
            """Driver tier for the maintained top-k (zero Spark jobs):
            ``topk(state ∪ fresh)`` over ≤k state rows and a byte-gated
            fresh tail is a pyarrow scan + sort (``nano.NanoTopKProgram``)
            — the two small Spark jobs the distributed path pays per
            refresh cost more than the scan at this size. A cold load
            passes ``wm_ns=None`` and the schema the classic miss would
            store: empty starting state, whole history. Returns the
            stored-state LocalRelation, or None → Spark path."""
            from .nano import build_nano_topk_program

            if not self._nano_sources_ok(fingerprint, {spec.table: base}):
                return None
            if not self._nano_tz_ok(fingerprint):
                return None
            key = ("topknano", fingerprint)
            if key not in self._tpl_cache:
                prog = None
                try:
                    if spec.items is None:
                        projection = [(c, c) for c in base.columns]
                    else:
                        projection = []
                        for i in spec.items:
                            if not isinstance(i.expr, Col):
                                raise Unsupported("non-column select item")
                            projection.append((i.name, i.expr.name))
                    sspec = [
                        (
                            n,
                            not o.desc,
                            o.nulls_first
                            if o.nulls_first is not None
                            else not o.desc,
                        )
                        for n, o in sort_items()
                    ]
                    prog = build_nano_topk_program(
                        spec.table, ts_col, projection,
                        self._fold_temporal_literals(spec.predicate, ts_col),
                        sspec, spec.limit, cfg.nano_refresh_max_bytes,
                    )
                except Exception as e:
                    cfg.log.info(
                        fingerprint, f"top-k nano tier not available ({e})"
                    )
                if len(self._tpl_cache) >= self._MEMO_MAX:
                    self._tpl_cache.clear()
                self._tpl_cache[key] = prog
            prog = self._tpl_cache[key]
            if prog is None:
                return None
            try:
                prog.validate(spec.table)
                if wm_ns is None:
                    from pyspark.sql.pandas.types import to_arrow_schema

                    st_schema = cold_schema
                    state_tbl = to_arrow_schema(st_schema).empty_table()
                else:
                    state_tbl = entry.get_arrow()
                    st_schema = entry.state_schema()
                if state_tbl is None or st_schema is None:
                    return None
                res = prog.refresh(state_tbl, wm_ns, swm)
                # rows are already in exact final order and limited: re-enter
                # Spark as a LocalRelation with NO re-sort (same pattern as
                # _arrow_result's sorted_locally path — a LocalRelation
                # orderBy would pay a per-refresh sort job). Built BEFORE
                # the store-back: if any step here fails, the state and
                # watermark are untouched and the Spark-path fallback
                # rescans [wm, swm) exactly once — store-back-last is the
                # same contract _finish_dyn_driver documents.
                out = arrow_to_spark(self.spark, res, schema=st_schema)
                if not entry.put_arrow(swm, res, st_schema):
                    return None
                # the fingerprint carries ORDER BY and LIMIT: no post key
                self._memo_result(fingerprint, swm, out)
                return out
            except Exception as e:
                # source drift / unmirrorable data (NaN in a sort column):
                # drop the memo so the next refresh re-admits or re-degrades
                self._tpl_cache.pop(key, None)
                cfg.log.info(fingerprint, f"top-k nano refresh degraded ({e})")
                return None

        if hot:
            # hot read: the refresh window [wm, now) is provably empty —
            # including a now BELOW the watermark (override_now_ns replay;
            # wall clocks are monotone). Serve stored rows as-of the
            # WATERMARK with no scan and NO store: storing would REGRESS
            # the watermark, and the next refresh would rescan
            # already-stored rows into duplicates (same contract as the
            # aggregate path's hot read).
            wm_ns = entry.watermark_ns
            decision.cache_hit = True
            decision.watermark_ns = wm_ns
            stored = state if state is not None else entry.get(self.spark)
            cfg.log.info(fingerprint, "filter cache hot read: empty window")
        elif hit:
            wm_ns = entry.watermark_ns
            swm = store_wm(wm_ns)
            stored = topk_nano_stored(wm_ns, swm) if topk else None
            if stored is not None:
                decision.refresh_tier = "nano"
            else:
                fresh = project_store(bounds(base, lo_ns=wm_ns, hi_ns=swm))
                if topk:
                    if state is None:
                        state = entry.get(self.spark)
                    merged = (
                        state.unionByName(fresh)
                        .orderBy(*sort_cols())
                        .limit(spec.limit)
                    )
                    stored = entry.put(swm, merged, self.spark)
                    decision.refresh_tier = "topk"
                else:
                    stored = entry.append(
                        swm, fresh, self.spark, partition_cols=[part_col]
                    )
                    decision.refresh_tier = "rowset"
            decision.cache_hit = True
            decision.watermark_ns = wm_ns
            cfg.log.info(
                fingerprint, f"filter cache hit: appended rows since {wm_ns}"
            )
        else:
            stored = None
            donor = self._find_filter_donor(spec, now_ns, fingerprint)
            if donor is not None:
                # SEMANTIC HIT: a stored row set with a provably-WEAKER
                # predicate contains every row this query needs (S ⇒ W,
                # classic semantic caching). Filter the donor's rows with
                # THIS query's predicate and scan only [donor_wm, now) —
                # O(new data) instead of a full history scan, even though
                # this exact query has never run before.
                d_entry, d_wm, d_fp = donor
                try:
                    d_state = d_entry.get(self.spark)
                    if topk:
                        start0 = d_state.select(*out_names)
                    elif part_col in d_state.columns:
                        start0 = d_state.select(*out_names, part_col)
                    elif ts_col in out_names:
                        start0 = d_state.select(*out_names).withColumn(
                            part_col, F.to_date(F.col(ts_col))
                        )
                    else:
                        raise RuntimeError(
                            "donor state lacks the date partition column"
                        )
                    start = start0.filter(pred) if pred is not None else start0
                    swm = store_wm(d_wm)
                    fresh = project_store(bounds(base, lo_ns=d_wm, hi_ns=swm))
                    rows = start.unionByName(fresh)
                    if topk:
                        rows = rows.orderBy(*sort_cols()).limit(spec.limit)
                        stored = entry.put(swm, rows, self.spark)
                    else:
                        stored = entry.append(
                            swm,
                            rows,
                            self.spark,
                            partition_cols=[part_col],
                            replace=stale,
                        )
                    decision.cache_hit = True
                    decision.semantic_donor = d_fp
                    decision.watermark_ns = d_wm
                    cfg.log.info(
                        fingerprint,
                        f"filter semantic hit: predicate subsumed by {d_fp}; "
                        f"scanned only rows since {d_wm}",
                    )
                except Exception as e:
                    cfg.log.warn(
                        fingerprint, f"semantic donor unusable ({e}); full miss"
                    )
                    stored = None
            if stored is None:
                swm = store_wm(None)
                rows = project_store(bounds(base, hi_ns=swm))
                if topk:
                    if (
                        spec.table in LOCAL_PARQUET_SOURCES
                        and cfg.nano_refresh_max_bytes
                        and cfg.watermark_mode == "now"
                    ):
                        # typed by the frame the classic miss stores (its
                        # sort and limit keep the schema): analysis only
                        stored = topk_nano_stored(None, swm, rows.schema)
                    if stored is not None:
                        decision.refresh_tier = "nano"
                    else:
                        rows = rows.orderBy(*sort_cols()).limit(spec.limit)
                        stored = entry.put(swm, rows, self.spark)
                else:
                    stored = entry.append(
                        swm,
                        rows,
                        self.spark,
                        partition_cols=[part_col],
                        replace=stale,
                    )
                cfg.log.info(fingerprint, "filter cache miss: materializing rows")

        if fingerprint not in self._filter_registry:
            self._filter_registry[fingerprint] = (spec, tuple(out_names))
            try:
                # durable donor index: a DIFFERENT session sharing this
                # cache can subsume from entries it never created
                import json as _json

                from .plans.ir import ir_to_json

                cfg.cache.put_tag(
                    fingerprint, "filter_spec", _json.dumps(ir_to_json(spec))
                )
            except Exception:
                pass  # advisory only; never fail the query over a tag
        if topk and decision.refresh_tier == "nano":
            # driver tier returned a LocalRelation already in final order
            # and limited — a re-sort would cost a per-refresh sort job
            return stored, decision
        out = stored if topk else stored.drop(part_col)
        if spec.order_by:
            out = out.orderBy(*sort_cols())
        if spec.limit is not None:
            out = out.limit(spec.limit)
        return out, decision

    def _find_filter_donor(self, spec, now_ns: int, own_fp: str):
        """A previously-stored filter entry whose predicate is implied by
        ``spec``'s (S ⇒ W), same table/projection, full row set (no top-k),
        watermark ≤ now. Returns (entry, watermark_ns, fingerprint)."""
        from .plans.classify import predicate_implies
        from .plans.ir import Col as _ColRef

        # merge durable donors (other sessions on a shared cache) into the
        # session-local index
        try:
            import json as _json

            from .plans.ir import ir_from_json

            for fp, blob in self.config.cache.tags("filter_spec").items():
                if fp not in self._filter_registry:
                    dspec = ir_from_json(_json.loads(blob))
                    self._filter_registry[fp] = (dspec, ())
        except Exception:
            pass
        if not self._filter_registry:
            return None
        # this query's predicate must survive the projection: every column
        # it references must be selected as a bare identity item
        pred_cols = {
            n.name
            for n in (spec.predicate.walk() if spec.predicate is not None else ())
            if isinstance(n, _ColRef)
        }
        if spec.items is not None:
            identity = {
                i.name
                for i in spec.items
                if isinstance(i.expr, _ColRef) and i.expr.name == i.name
            }
            if not pred_cols <= identity:
                return None

        def items_canon(s):
            if s.items is None:
                return "*"
            return ";".join(f"{i.name}={i.expr.canon()}" for i in s.items)

        want = items_canon(spec)
        for fp, (dspec, _outs) in self._filter_registry.items():
            if fp == own_fp or dspec.table != spec.table:
                continue
            if dspec.limit is not None:  # top-k state is not a row superset
                continue
            if items_canon(dspec) != want:
                continue
            if not predicate_implies(spec.predicate, dspec.predicate):
                continue
            d_entry = self.config.cache.entry(fp)
            if not d_entry.occupied:
                continue
            d_wm = d_entry.watermark_ns
            if d_wm is None or d_wm > now_ns:
                continue
            return d_entry, d_wm, fp
        return None

    def _plan_union(self, spec, query: str):
        """UNION [ALL] of independently-cacheable branches: each leg plans
        through its own cached pipeline (own fingerprint, own state entry,
        own refresh tier); the union, the optional DISTINCT, and the outer
        ORDER/LIMIT are plain ops over the finalized results. Any branch
        the planners refuse aborts the whole union to passthrough (the
        Unsupported propagates to ``sql()``'s fallback), so semantics are
        always exact."""
        from .plans.ir import FilterSpec, SubquerySpec, UnionSpec as _US
        from .tiers import _order_col

        dfs = []
        decisions = []
        for b in spec.branches:
            if isinstance(b, FilterSpec):
                df, d = self._plan_filter(b, query)
            elif isinstance(b, SubquerySpec):
                df, d = self._plan_subquery(b, query)
            elif isinstance(b, _US):
                # nested set operation (r13): left-nested chains / mixed
                # trees — recurse; every leaf still owns its cache entry
                df, d = self._plan_union(b, query)
            else:
                df, d = self._plan_cached(query, b)
            dfs.append(df)
            decisions.append(d)
        names = dfs[0].columns
        out = dfs[0]
        op = getattr(spec, "op", "union")
        for d2 in dfs[1:]:
            if len(d2.columns) != len(names):
                raise Unsupported("set-operation branch arity mismatch")
            # SQL set ops are positional: first branch names the output
            right = d2.toDF(*names)
            if op == "union":
                out = out.union(right)
            elif op == "except":
                # Spark: subtract == EXCEPT DISTINCT, exceptAll == EXCEPT ALL
                out = out.exceptAll(right) if spec.all else out.subtract(right)
            else:  # intersect
                out = (
                    out.intersectAll(right)
                    if spec.all
                    else out.intersect(right)
                )
        if op == "union" and not spec.all:
            out = out.distinct()
        if spec.order_by:
            out = out.orderBy(
                *[_order_col(o.expr.name, o) for o in spec.order_by]
            )
        if getattr(spec, "offset", None):
            out = out.offset(spec.offset)
        if spec.limit is not None:
            out = out.limit(spec.limit)
        decision = Decision(
            sql=query,
            cached=True,
            reason=f"{op} of {len(dfs)} cached branches",
            fingerprint=decisions[0].fingerprint,
            cache_hit=all(d.cache_hit for d in decisions),
            watermark_ns=decisions[0].watermark_ns,
            now_ns=decisions[0].now_ns,
            refresh_tier=decisions[0].refresh_tier,
        )
        return out, decision

    def _plan_scalar_outer(self, spec, query: str, subqs):
        """``WHERE v > (SELECT avg(v) FROM t)`` / ``WHERE k IN (SELECT k
        FROM t GROUP BY k HAVING …)`` — cache the INNER aggregate, fold its
        result into the outer predicate, run the outer plainly.

        The reference's bottom-up rule rewrites the inner Aggregate like
        any other (``src/aggregate.rs:74-76``); here each subquery runs
        through the full cached pipeline at plan time (a 1-row collect for
        scalars; an IN-list collect bounded by
        ``config.in_subquery_max_values``) and the outer query executes as
        ordinary Spark ops with the result as literals. The OUTER is
        deliberately NOT cached: its fingerprint would embed the folded
        values, which change with every inner refresh — each refresh would
        orphan the previous outer entry and the first read of each would
        rescan the source (worse than plain). At scale the win is the
        inner: its full-table aggregation scan is replaced by an O(new)
        refresh; the outer's one filter scan is the same scan plain Spark
        would do.
        """
        import dataclasses

        from .functions.compile import order_column, plain_agg_column, to_column
        from .functions.partial import _rewrite_with_finalize
        from .plans.ir import AggCall as _AggCall
        from .plans.ir import BinOp as _BinOp
        from .plans.ir import Col as _Col
        from .plans.ir import FilterSpec as _FilterSpec
        from .plans.ir import CorrScalar as _CSQ
        from .plans.ir import ExistsSubquery as _EXQ
        from .plans.ir import InList as _InList
        from .plans.ir import InSubquery as _ISQ
        from .plans.ir import Lit as _Lit
        from .plans.ir import ScalarSubquery as _SS
        from .plans.ir import transform as _transform

        if not isinstance(spec, _FilterSpec):
            # AggSpec outer: plain re-aggregation — same restrictions the
            # derived-table re-agg path enforces
            if spec.grouping_sets or spec.join_steps or spec.grouping_fn_items:
                raise Unsupported(
                    "grouping sets / joins above a scalar subquery"
                )
            # a correlated SELECT-item scalar on this plain path would put
            # the joined column unaggregated inside agg() — only the
            # cached _plan_select_scalars assembly (no predicate
            # subqueries) supports that shape
            for i in spec.aggregates:
                if any(isinstance(n, _CSQ) for n in i.expr.walk()):
                    raise Unsupported(
                        "correlated select-item scalar alongside "
                        "predicate subqueries"
                    )

        _OK_TYPES = (
            bool, int, float, str, _dec.Decimal, _dt.date, _dt.datetime
        )

        # resolve each distinct inner aggregate through the cached pipeline
        resolved: Dict[object, object] = {}
        inner_decisions = []
        corr_joins: list = []  # (join-key Column builder, renamed inner df)
        for sq in subqs:
            if sq in resolved:
                continue
            idf, idec = self._plan_cached(query, sq.spec)
            if isinstance(sq, _CSQ):
                # correlated scalar → broadcast LEFT JOIN against the
                # cached grouped rollup: the per-key scalar becomes the
                # joined column. Absent keys join to NULL — exactly the
                # empty-correlated-scalar value for NULL-on-empty
                # aggregates; the count family (0 on empty) gets
                # coalesce(…, 0). Inner state is O(groups) rows:
                # broadcast-sized at any source scale.
                i = len(corr_joins)
                cv = f"__qc_cv{i}"
                val_name = sq.spec.select_order[-1]
                uniq = list(dict.fromkeys(sq.inner_keys))
                alias = {kn: f"__qc_ck{i}_{n}" for n, kn in enumerate(uniq)}
                j = idf.select(
                    *[F.col(kn).alias(alias[kn]) for kn in uniq],
                    F.col(val_name).alias(cv),
                )
                cond = None
                for ok, ikn in zip(sq.outer_keys, sq.inner_keys):
                    c = to_column(ok) == F.col(alias[ikn])
                    cond = c if cond is None else (cond & c)
                corr_joins.append((j, cond))
                from .plans.ir import Col as _IRCol
                from .plans.ir import Func as _IRFunc

                val: object = _IRCol(cv)
                if sq.count_like:
                    val = _IRFunc("coalesce", (val, _Lit(0)))
                resolved[sq] = val
                inner_decisions.append(idec)
                continue
            if isinstance(sq, _ISQ):
                cap = getattr(self.config, "in_subquery_max_values", 10_000)
                # distinct BEFORE the cap: the fold only needs the value SET,
                # so the cap must measure set size, not result rows — e.g.
                # `IN (SELECT max(x) FROM t GROUP BY k)` over >cap groups
                # with few distinct maxima stays foldable. distinct() also
                # dedups the literals the IN-list is built from.
                rows = idf.distinct().limit(cap + 1).collect()
                if len(rows) > cap:
                    raise Unsupported(
                        f"IN subquery yields more than {cap} distinct values"
                    )
                vals = [r[0] for r in rows]
                nonnull = [v for v in vals if v is not None]
                try:
                    # deterministic literal order → stable folded plan
                    nonnull.sort()
                except TypeError:
                    pass
                for v in nonnull:
                    if not isinstance(v, _OK_TYPES):
                        raise Unsupported(
                            f"IN subquery value type {type(v).__name__}"
                        )
                folded: object
                if getattr(sq, "op", "=") != "=":
                    # quantified comparison x <op> ANY(S): an OR of direct
                    # comparisons over the distinct set reproduces SQL's
                    # three-valued semantics exactly — OR(TRUE, …)=TRUE,
                    # OR(FALSE, NULL)=NULL, empty → FALSE; ONE NULL
                    # comparand represents every NULL in S (OR-idempotent).
                    # DuckDB spells ALL as NOT(negated-op ANY), and NOT
                    # over this fold is exact.
                    comps = [
                        _BinOp(sq.op, sq.left, _Lit(v)) for v in nonnull
                    ]
                    if len(nonnull) != len(vals):
                        comps.append(_BinOp(sq.op, sq.left, _Lit(None)))
                    if not comps:
                        folded = _Lit(False)
                    else:
                        folded = comps[0]
                        for c in comps[1:]:
                            folded = _BinOp("or", folded, c)
                    resolved[sq] = folded
                    inner_decisions.append(idec)
                    continue
                # exact SQL IN semantics: x IN (v…)       — plain IN-list
                #   empty set        → FALSE (even for NULL x / NOT IN)
                #   set had a NULL   → (x IN (v…)) OR NULL: TRUE on match,
                #                      NULL otherwise — NOT above this node
                #                      then propagates NULL exactly
                if not nonnull:
                    folded = _Lit(False)
                else:
                    folded = _InList(
                        sq.left, tuple(_Lit(v) for v in nonnull)
                    )
                if len(nonnull) != len(vals):
                    folded = _BinOp("or", folded, _Lit(None))
                resolved[sq] = folded
            elif isinstance(sq, _EXQ):
                # EXISTS: a single row-existence probe over the cached
                # inner — O(1) collect, never NULL (TRUE iff >= 1 row;
                # an inner global aggregate always yields one row, so
                # those fold to TRUE without special casing). NOT EXISTS
                # is a NOT above this literal and needs nothing extra.
                rows = idf.limit(1).collect()
                resolved[sq] = _Lit(bool(rows))
            else:
                rows = idf.collect()  # global aggregate: exactly one row
                val = rows[0][0] if rows else None
                if val is not None and not isinstance(val, _OK_TYPES):
                    raise Unsupported(
                        f"scalar subquery value type {type(val).__name__}"
                    )
                resolved[sq] = _Lit(val)
            inner_decisions.append(idec)

        def _sub(n):
            return (
                resolved.get(n, n)
                if isinstance(n, (_SS, _ISQ, _EXQ, _CSQ))
                else n
            )

        new_pred = (
            _transform(spec.predicate, _sub)
            if spec.predicate is not None
            else None
        )

        df = self.spark.table(spec.table)
        orig_cols = list(df.columns)
        for j, cond in corr_joins:
            df = df.join(F.broadcast(j), cond, "left")
        if new_pred is not None:
            df = df.filter(to_column(new_pred))
        if corr_joins and isinstance(spec, _FilterSpec) and spec.items is None:
            # SELECT *: project the helper join columns back out
            df = df.select(*orig_cols)

        if isinstance(spec, _FilterSpec):
            if spec.items is not None:
                from .tiers import _order_col

                def _out_name(e):
                    if isinstance(e, _Lit) and isinstance(e.value, int):
                        idx = e.value - 1
                        if 0 <= idx < len(spec.items):
                            return spec.items[idx].name
                        raise Unsupported("order-by position out of range")
                    if isinstance(e, _Col) and e.name in names:
                        return e.name
                    for i in spec.items:
                        if i.expr == e:
                            return i.name
                    raise Unsupported(
                        "ORDER BY not an output column (scalar-subquery path)"
                    )

                names = {i.name for i in spec.items}
                ocols = [
                    _order_col(_out_name(o.expr), o) for o in spec.order_by
                ]
                # select-item subqueries fold here too (literal for
                # uncorrelated, joined column for correlated)
                df = df.select(
                    *[
                        to_column(_transform(i.expr, _sub)).alias(i.name)
                        for i in spec.items
                    ]
                )
                if ocols:
                    df = df.orderBy(*ocols)
            elif spec.order_by:
                df = df.orderBy(*[order_column(o) for o in spec.order_by])
            if spec.limit is not None:
                df = df.limit(spec.limit)
        else:
            # AggSpec outer: plain aggregation over the filtered source
            def _agg_col(e):
                calls = [n for n in e.walk() if isinstance(n, _AggCall)]
                return _rewrite_with_finalize(
                    e, {c: plain_agg_column(c) for c in calls}
                )

            gb = [to_column(g.expr).alias(g.name) for g in spec.group_by]
            # select-list scalars (share-of-total) fold here too when the
            # query ALSO has a WHERE/HAVING subquery (this plain path);
            # select-only scalars take _plan_select_scalars instead, which
            # keeps the outer aggregate cached
            aggs = [
                _agg_col(_transform(i.expr, _sub)).alias(i.name)
                for i in spec.aggregates
            ]
            new_hav = (
                _transform(spec.having, _sub)
                if spec.having is not None
                else None
            )
            if new_hav is not None:
                aggs.append(_agg_col(new_hav).alias("__qc_having"))
            df = df.groupBy(*gb).agg(*aggs) if gb else df.agg(*aggs)
            if new_hav is not None:
                df = df.filter(F.col("__qc_having")).drop("__qc_having")
            df = df.select(*spec.select_order)
            df = self._apply_order_limit(df, spec)

        base = inner_decisions[0]
        kinds = [
            k
            for k, t in (("scalar", _SS), ("IN", _ISQ), ("correlated", _CSQ))
            if any(isinstance(s, t) for s in resolved)
        ]
        decision = Decision(
            sql=query,
            cached=True,
            reason=f"{'+'.join(kinds)} subquery: "
            "inner aggregate cached, outer plain",
            fingerprint=base.fingerprint,
            cache_hit=all(d.cache_hit for d in inner_decisions),
            watermark_ns=base.watermark_ns,
            now_ns=base.now_ns,
            refresh_tier=base.refresh_tier,
        )
        return df, decision

    def _plan_select_scalars(self, spec, query: str, sel_subqs):
        """Scalar subqueries in the SELECT list of an aggregate — the
        share-of-total dashboard shape::

            SELECT event_type, count(*) / (SELECT count(*) FROM t) AS share
            FROM t GROUP BY 1

        Unlike the WHERE/HAVING fold (``_plan_scalar_outer``, where the
        outer must run plain because the folded literal changes the row
        set), a select-list scalar never affects grouping or filtering —
        so the OUTER aggregate stays fully cached: the query is rewritten
        to a derived-table shape whose inner aggregate carries only the
        AggCalls (scalar-free fingerprint, stable across refreshes) and
        whose outer projection replays the item expressions with each
        scalar folded as a plan-time literal over O(state) rows. Both the
        inner rollup AND every scalar's own aggregate refresh
        incrementally; nothing rescans the source on a warm read."""
        import dataclasses

        from .plans.ir import AggCall as _AggCall
        from .plans.ir import Col as _Col
        from .plans.ir import Lit as _Lit
        from .plans.ir import OrderItem as _OrderItem
        from .plans.ir import ScalarSubquery as _SS
        from .plans.ir import SelectItem as _SelectItem
        from .plans.ir import SubquerySpec as _SubquerySpec
        from .plans.ir import transform as _transform

        if spec.grouping_sets or spec.grouping_fn_items or spec.join_steps:
            raise Unsupported(
                "grouping sets / star joins with select-list scalar "
                "subqueries"
            )
        if spec.offset is not None:
            # the SubquerySpec wrapper below has no offset slot
            raise Unsupported("OFFSET with select-list scalar subqueries")

        from .plans.ir import CorrScalar as _CSQ
        from .plans.ir import Func as _IRFunc

        # a correlated scalar INSIDE an aggregate argument is per-row, not
        # per-group — the post-finalize join can't reproduce it (Spark
        # itself refuses the shape: SCALAR_SUBQUERY_IS_IN_GROUP_BY_OR_
        # AGGREGATE_FUNCTION)
        for i in spec.aggregates:
            for n in i.expr.walk():
                if isinstance(n, _AggCall) and any(
                    isinstance(c, _CSQ) for c in n.walk()
                ):
                    raise Unsupported(
                        "correlated scalar inside an aggregate argument"
                    )

        # resolve each distinct scalar through the cached pipeline:
        # uncorrelated → plan-time 1-row collect, folded as a literal;
        # correlated → the cached O(groups) rollup, broadcast-LEFT-JOINed
        # onto the finalized outer on its group key post-finalize (exact:
        # the correlation key must BE a group key, so the per-row scalar is
        # constant within each outer group). The reference's bottom-up rule
        # caches this inner Aggregate the same way (src/aggregate.rs:74-76).
        resolved: Dict[object, object] = {}
        hits = []
        corr_joins: list = []  # (renamed rollup df, outer group name, ck)
        group_by_name = {g.name: g for g in spec.group_by}
        for sq in sel_subqs:
            if sq in resolved:
                continue
            if isinstance(sq, _CSQ):
                gnames = []
                for key in sq.outer_keys:
                    g = None
                    if isinstance(key, _Col):
                        g = group_by_name.get(key.name)
                    if g is None:
                        for cand in spec.group_by:
                            if cand.expr == key:
                                g = cand
                                break
                    if g is None:
                        raise Unsupported(
                            "correlated select-item scalar: correlation key "
                            "is not a group key"
                        )
                    gnames.append(g.name)
                idf, idec = self._plan_cached(query, sq.spec)
                i = len(corr_joins)
                cv = f"__qc_cv{i}"
                val_name = sq.spec.select_order[-1]
                uniq = list(dict.fromkeys(sq.inner_keys))
                alias = {kn: f"__qc_ck{i}_{n}" for n, kn in enumerate(uniq)}
                j = idf.select(
                    *[F.col(kn).alias(alias[kn]) for kn in uniq],
                    F.col(val_name).alias(cv),
                )
                corr_joins.append(
                    (
                        j,
                        tuple(
                            (gn, alias[ikn])
                            for gn, ikn in zip(gnames, sq.inner_keys)
                        ),
                    )
                )
                val: object = _Col(cv)
                if sq.count_like:
                    val = _IRFunc("coalesce", (val, _Lit(0)))
                resolved[sq] = val
                hits.append(idec.cache_hit)
                continue
            idf, idec = self._plan_cached(query, sq.spec)
            rows = idf.collect()
            val = rows[0][0] if rows else None
            if val is not None and not isinstance(
                val,
                (bool, int, float, str, _dec.Decimal, _dt.date, _dt.datetime),
            ):
                raise Unsupported(
                    f"scalar subquery value type {type(val).__name__}"
                )
            resolved[sq] = _Lit(val)
            hits.append(idec.cache_hit)

        # split every select item: AggCalls become (deduped) hidden items
        # of the scalar-free INNER aggregate; the item expression replays
        # as an outer projection with scalars folded
        hidden: Dict[object, str] = {}
        inner_aggs: list = []
        outer_items: list = []
        group_names = {g.name for g in spec.group_by}

        def _repl(n):
            if isinstance(n, (_SS, _CSQ)):
                return resolved[n]
            if isinstance(n, _AggCall):
                h = hidden.get(n)
                if h is None:
                    h = f"__qc_sel{len(hidden)}"
                    hidden[n] = h
                    inner_aggs.append(_SelectItem(h, n))
                return _Col(h)
            return n

        by_name = {i.name: i for i in spec.aggregates}
        for name in spec.select_order:
            if name in group_names:
                outer_items.append(_SelectItem(name, _Col(name)))
                continue
            item = by_name[name]
            if not any(
                isinstance(n, (_SS, _CSQ)) for n in item.expr.walk()
            ):
                # scalar-free item: keep the WHOLE finalize expression in
                # the inner aggregate under its own name
                inner_aggs.append(item)
                outer_items.append(_SelectItem(name, _Col(name)))
                continue
            outer_items.append(
                _SelectItem(name, _transform(item.expr, _repl))
            )
        if not any(
            isinstance(n, _AggCall)
            for i in inner_aggs
            for n in i.expr.walk()
        ):
            # ``SELECT g, (SELECT …) FROM t GROUP BY g`` — no partial
            # state anywhere; nothing to cache
            raise Unsupported(
                "select-list scalar subquery without aggregates"
            )

        # ORDER BY replays on the outer projection: resolve each key to an
        # output column (by name, by position, or by restating an item
        # expression verbatim); anything else stays passthrough
        out_names = [i.name for i in outer_items]
        expr_name = {i.expr: i.name for i in spec.aggregates}
        expr_name.update({g.expr: g.name for g in spec.group_by})
        new_order = []
        for o in spec.order_by:
            if isinstance(o.expr, _Col) and o.expr.name in out_names:
                new_order.append(o)
            elif (
                isinstance(o.expr, _Lit)
                and isinstance(o.expr.value, int)
                and 1 <= o.expr.value <= len(out_names)
            ):
                new_order.append(
                    dataclasses.replace(
                        o, expr=_Col(out_names[o.expr.value - 1])
                    )
                )
            elif o.expr in expr_name:
                new_order.append(
                    dataclasses.replace(o, expr=_Col(expr_name[o.expr]))
                )
            else:
                raise Unsupported(
                    "ORDER BY not an output column "
                    "(select-list scalar path)"
                )

        inner = dataclasses.replace(
            spec,
            aggregates=tuple(inner_aggs),
            select_order=tuple(
                [g.name for g in spec.group_by]
                + [i.name for i in inner_aggs]
            ),
            order_by=(),
            limit=None,
        )
        sub = _SubquerySpec(
            inner=inner,
            items=tuple(outer_items),
            predicate=None,
            order_by=tuple(new_order),
            limit=spec.limit,
        )
        df, dec = self._plan_subquery(sub, query, corr_joins=corr_joins)
        what = (
            "correlated select scalars joined post-finalize"
            if corr_joins
            else "select-list scalar subqueries folded post-finalize"
        )
        return df, dataclasses.replace(
            dec,
            sql=query,
            reason=((dec.reason + "; " if dec.reason else "") + what),
            cache_hit=dec.cache_hit and all(hits),
        )

    def _plan_subquery(self, spec, query: str, corr_joins=None):
        """Aggregate inside a derived table: cache the INNER aggregate,
        replay the outer shape post-finalize.

        ``corr_joins`` (from ``_plan_select_scalars``): decorrelated
        SELECT-item scalar rollups — ``(rollup_df, outer_group_name,
        key_alias)`` triples broadcast-LEFT-JOINed onto the finalized
        inner before the outer projection; the projection then computes
        the item expressions from the joined ``__qc_cv{i}`` columns and
        drops the helpers.

        The reference's bottom-up rule rewrites Aggregate nodes wherever
        they sit in the plan (``src/aggregate.rs:74-76``, ``README.md:124``);
        here the derived table's aggregate goes through the full cached
        pipeline (same fingerprint as the standalone query — one state
        entry serves the bare rollup AND every outer shape built on it)
        and the outer WHERE/SELECT/ORDER/LIMIT runs as DataFrame ops over
        the finalized result — O(state) rows, never touching the source.
        """
        from .plans.classify import VOLATILE_FNS, VOLATILE_TIME_FNS
        from .plans.ir import Func as _Func

        # volatile time functions in the OUTER shape would be evaluated by
        # Spark at execution time (not pinned to the engine's now) — keep
        # the pinned-now contract by refusing them (passthrough).
        outer_exprs = [i.expr for i in (spec.items or ())]
        outer_exprs.extend(i.expr for i in spec.group_by)
        outer_exprs.extend(i.expr for i in spec.aggregates)
        if spec.having is not None:
            outer_exprs.append(spec.having)
        if getattr(spec, "qualify", None) is not None:
            outer_exprs.append(spec.qualify)
        outer_exprs.extend(
            js.on for js in spec.join_steps if js.on is not None
        )
        for e in outer_exprs + (
            [spec.predicate] if spec.predicate is not None else []
        ) + [o.expr for o in spec.order_by]:
            for nd in e.walk():
                if isinstance(nd, _Func) and nd.name.lower() in (
                    VOLATILE_FNS | VOLATILE_TIME_FNS
                ):
                    raise Unsupported("volatile function above a derived table")

        dim_frames: Dict[str, DataFrame] = {}
        if spec.join_steps:
            # dims joined onto the finalized derived result. Resolve frames
            # and check name-uniqueness BEFORE planning the inner aggregate
            # (the star-join rule: unqualified references must be
            # unambiguous — parser drops qualifiers), so an uncacheable
            # shape degrades without doing the state work first.
            from .plans.parser import _branch_names

            seen_cols = {c: "(derived)" for c in _branch_names(spec.inner)}
            for js in spec.join_steps:
                fr = self.spark.table(js.table)
                dim_frames[js.table] = fr
                # casefolded membership: parser lowercases USING keys,
                # Spark resolves them case-insensitively (r15 advice)
                fr_lower = {c.lower() for c in fr.columns}
                for u in js.using:
                    if u not in fr_lower:
                        raise Unsupported(
                            f"USING column {u} missing from {js.table}"
                        )
                for c in fr.columns:
                    if c.lower() in js.using:
                        continue  # USING keys merge into one output column
                    if c in seen_cols:
                        raise Unsupported(
                            f"ambiguous column {c} (in {seen_cols[c]} and"
                            f" {js.table})"
                        )
                    seen_cols[c] = js.table

        from .plans.ir import SubquerySpec as _SubquerySpec

        if isinstance(spec.inner, _SubquerySpec):
            # nested derived tables / chained CTEs: recurse — only the
            # INNERMOST aggregate is cached; every level above replays as
            # plain ops over its finalized O(state) result
            df, decision = self._plan_subquery(spec.inner, query)
        else:
            df, decision = self._plan_cached(query, spec.inner)
        okey = None
        if not corr_joins and not spec.join_steps and df.isLocal():
            # driver-local inner (a memo hit or a driver tier's Arrow
            # result) and no joins: the outer's rows are at most the
            # inner's (the compiler admits no generator function), already
            # on the driver. Replay it on one partition (no SinglePartition
            # exchange stage for the window/ORDER BY) and memoize it keyed
            # on the inner's memo key, so the outer runs once per
            # watermark, not once per reload (small_dashboard moving_avg).
            ikey = self._memo_key_of(df)
            if ikey is not None:
                okey = (ikey[0], ikey[1], ("derived", repr(spec), ikey[2]))
                memo = self._memo_get(*okey)
                if memo is not None:
                    decision.served_from_memo = True
                    self.config.log.info(
                        ikey[0], "derived table: result memo (no Spark work)"
                    )
                    return memo, decision
            df = df.coalesce(1)
        df = self._replay_outer(spec, df, corr_joins, dim_frames)
        if okey is not None:
            df = self._memo_collect(okey[0], okey[1], df, okey[2])
        return df, decision

    def _replay_outer(self, spec, df: DataFrame, corr_joins, dim_frames):
        """The derived table's outer shape (joins, WHERE, rollup or
        projection, QUALIFY, ORDER BY, LIMIT) as plain DataFrame ops over
        the finalized inner result ``df``."""
        from .functions.compile import plain_agg_column, to_column
        from .plans.ir import AggCall as _AggCall

        for j, key_pairs in corr_joins or ():
            # O(groups) build side by construction — explicit broadcast;
            # NULL outer keys never match (correlated equality semantics)
            cond = None
            for gname, ck in key_pairs:
                c = F.col(gname) == F.col(ck)
                cond = c if cond is None else (cond & c)
            df = df.join(F.broadcast(j), cond, "left")
        for js in spec.join_steps:
            # O(state) rows on the left; dims read fresh each query (label
            # changes show immediately). AQE picks broadcast for small dims.
            if js.using:
                df = df.join(dim_frames[js.table], list(js.using), js.how)
            elif js.on is not None:
                df = df.join(dim_frames[js.table], to_column(js.on), js.how)
            else:
                df = df.crossJoin(dim_frames[js.table])
        if spec.predicate is not None:
            df = df.filter(to_column(spec.predicate))
        if spec.aggregates:
            # two-level rollup: PLAIN re-aggregation of the finalized
            # (exact, O(state)) inner result — no decomposition needed
            from .functions.partial import _rewrite_with_finalize

            def _agg_col(e):
                calls = [n for n in e.walk() if isinstance(n, _AggCall)]
                fin_map = {c: plain_agg_column(c) for c in calls}
                return _rewrite_with_finalize(e, fin_map)

            gb = [to_column(g.expr).alias(g.name) for g in spec.group_by]
            aggs = [_agg_col(i.expr).alias(i.name) for i in spec.aggregates]
            if spec.having is not None:
                aggs.append(_agg_col(spec.having).alias("__qc_having"))
            df = df.groupBy(*gb).agg(*aggs) if gb else df.agg(*aggs)
            if spec.having is not None:
                df = df.filter(F.col("__qc_having")).drop("__qc_having")
            df = df.select(*spec.select_order)
        elif spec.items is not None:
            from .plans.ir import Col as _Col

            # RANGE frames need one NUMERIC order key (Spark's RangeFrame
            # rejects date/string keys at analysis) — type-check against
            # the finalized frame and degrade to passthrough instead of
            # letting the AnalysisException take the unexpected-error path
            from .plans.ir import WindowExpr as _WinE
            from pyspark.sql.types import NumericType as _NumT

            dtypes_by_name = {f.name: f.dataType for f in df.schema.fields}
            guard_exprs = [it.expr for it in spec.items]
            if getattr(spec, "qualify", None) is not None:
                guard_exprs.append(spec.qualify)
            for _ge in guard_exprs:
                for nd in _ge.walk():
                    if (
                        isinstance(nd, _WinE)
                        and nd.frame is not None
                        and nd.frame[0] == "range"
                    ):
                        key = nd.order_by[0].expr
                        kt = (
                            dtypes_by_name.get(key.name)
                            if isinstance(key, _Col)
                            else None
                        )
                        if kt is None or not isinstance(kt, _NumT):
                            raise Unsupported(
                                "RANGE frame requires a numeric order key"
                            )

            item_names = {i.name for i in spec.items}
            if spec.order_by and any(
                isinstance(o.expr, _Col) and o.expr.name not in item_names
                for o in spec.order_by
            ):
                # hidden sort keys (__qc_ord{i}): order on the pre-
                # projection frame, THEN project them away — Catalyst
                # fuses sort+project(+limit) into TakeOrderedAndProject,
                # and a projection never reorders rows
                from .plans.ir import Lit as _Lit
                from .tiers import _order_col as _oc

                item_list = list(spec.items)

                def _okey(o):
                    if isinstance(o.expr, _Col):
                        return _oc(o.expr.name, o)
                    if isinstance(o.expr, _Lit) and isinstance(
                        o.expr.value, int
                    ):
                        # positional: against the OUTPUT items
                        idx = o.expr.value - 1
                        if not 0 <= idx < len(item_list):
                            raise Unsupported(
                                "order-by position out of range"
                            )
                        return _oc(item_list[idx].name, o)
                    raise Unsupported(
                        "ORDER BY expression with hidden sort keys"
                    )

                if getattr(spec, "qualify", None) is not None:
                    # parser refuses this combination; belt-and-braces
                    raise Unsupported("QUALIFY with hidden sort keys")
                df = df.orderBy(*[_okey(o) for o in spec.order_by])
                df = df.select(
                    *[to_column(i.expr).alias(i.name) for i in spec.items]
                )
                if spec.limit is not None:
                    df = df.limit(spec.limit)
                return df
            df = df.select(
                *[to_column(i.expr).alias(i.name) for i in spec.items]
            )
        if getattr(spec, "qualify", None) is not None:
            # QUALIFY: filter AFTER window evaluation (Spark disallows
            # window functions inside filter(), so compute the verdict as
            # a hidden column over the post-projection frame, then drop)
            df = (
                df.withColumn("__qc_qual", to_column(spec.qualify))
                .filter(F.col("__qc_qual"))
                .drop("__qc_qual")
            )
        if spec.order_by:
            from .tiers import _order_col

            # post-aggregation ORDER BY may restate an output expression
            # verbatim (`ORDER BY sum(n)`) — resolve it to the output name
            alias_of = {
                i.expr: i.name for i in (spec.aggregates + spec.group_by)
            }
            cols = []
            for i, o in enumerate(spec.order_by):
                from .plans.ir import Col as _Col

                if o.expr in alias_of:
                    cols.append(_order_col(alias_of[o.expr], o))
                elif isinstance(o.expr, _Col):
                    cols.append(_order_col(o.expr.name, o))
                else:
                    c = to_column(o.expr)
                    if o.nulls_first is None:
                        cols.append(c.desc() if o.desc else c.asc())
                    elif o.desc:
                        cols.append(
                            c.desc_nulls_first() if o.nulls_first else c.desc_nulls_last()
                        )
                    else:
                        cols.append(
                            c.asc_nulls_first() if o.nulls_first else c.asc_nulls_last()
                        )
            df = df.orderBy(*cols)
        if spec.limit is not None:
            df = df.limit(spec.limit)
        return df

    #: aggregate functions whose finalized value IS a mergeable state
    #: (count/sum/min/max), or decomposes into such (avg → sum+count) —
    #: the FULL-OUTER composite's supported vocabulary
    #: FULL-composite aggregates whose output state merges with ONE
    #: aggregate over the union frame (finalize ≡ state). product and the
    #: bool/bit family (r17) are self-merging: each half's state is the
    #: fold of its own rows, and the same fold over the two states IS the
    #: fold over the union (associative + commutative; NULL states — an
    #: all-NULL half — are skipped, matching SQL's null-ignoring rule).
    _FULL_MERGE = {
        "count": "sum", "sum": "sum", "min": "min", "max": "max",
        "product": "product",
        "bool_and": "bool_and", "bool_or": "bool_or",
        "bit_and": "bit_and", "bit_or": "bit_or", "bit_xor": "bit_xor",
    }

    def _fold_static_scalars(self, query: str, spec):
        """Resolve STATIC nested scalar subqueries in a CACHED spec's
        WHERE/HAVING to plan-time literals (r16 static-inner fold).

        The parser admits these only when the innermost body is
        uncorrelated, volatile-free and subquery-free
        (``parser._static_scalar``), which makes the fold sound: the
        substituted literal rides into this spec's canonical predicate →
        the FINGERPRINT embeds the value → state admitted under
        different inner values lives in different entries and never
        mixes on the union-merge seam. Each inner scalar itself plans
        through the full cached pipeline (O(new) refresh + a 1-row
        collect), the same treatment ``_plan_scalar_outer`` gives
        top-level scalars — the difference is that HERE the enclosing
        spec stays cacheable because a static inner changes value only
        when its source data grows (occasionally → occasional cold
        entry), never per-run."""
        import dataclasses

        from .plans.ir import BinOp as _BinOp
        from .plans.ir import ExistsSubquery as _EXQ
        from .plans.ir import InList as _InList
        from .plans.ir import InSubquery as _ISQ
        from .plans.ir import Lit as _Lit
        from .plans.ir import ScalarSubquery as _SS
        from .plans.ir import transform as _transform

        _KINDS = (_SS, _ISQ, _EXQ)

        def _collect(e):
            if e is None:
                return []
            return [n for n in e.walk() if isinstance(n, _KINDS)]

        having = getattr(spec, "having", None)
        subqs = _collect(spec.predicate) + _collect(having)
        if not subqs:
            return spec

        _OK = (bool, int, float, str, _dec.Decimal, _dt.date, _dt.datetime)
        resolved: Dict[object, object] = {}
        for sq in subqs:
            if sq in resolved:
                continue
            idf, idec = self._plan_cached(query, sq.spec)
            # fold semantics mirror _plan_scalar_outer's top-level folds
            # exactly (IN three-valued NULL handling, quantified ANY/ALL
            # OR-chains, EXISTS row probe) — the difference is only WHERE
            # the literal lands: inside a spec that stays cached, with
            # the value riding its fingerprint.
            if isinstance(sq, _ISQ):
                cap = getattr(self.config, "in_subquery_max_values", 10_000)
                rows = idf.distinct().limit(cap + 1).collect()
                if len(rows) > cap:
                    raise Unsupported(
                        f"IN subquery yields more than {cap} distinct values"
                    )
                vals = [r[0] for r in rows]
                nonnull = [v for v in vals if v is not None]
                try:
                    nonnull.sort()  # deterministic literal order
                except TypeError:
                    pass
                for v in nonnull:
                    if not isinstance(v, _OK):
                        raise Unsupported(
                            f"IN subquery value type {type(v).__name__}"
                        )
                if getattr(sq, "op", "=") != "=":
                    comps = [
                        _BinOp(sq.op, sq.left, _Lit(v)) for v in nonnull
                    ]
                    if len(nonnull) != len(vals):
                        comps.append(_BinOp(sq.op, sq.left, _Lit(None)))
                    if not comps:
                        folded: object = _Lit(False)
                    else:
                        folded = comps[0]
                        for c in comps[1:]:
                            folded = _BinOp("or", folded, c)
                else:
                    if not nonnull:
                        folded = _Lit(False)
                    else:
                        folded = _InList(
                            sq.left, tuple(_Lit(v) for v in nonnull)
                        )
                    if len(nonnull) != len(vals):
                        folded = _BinOp("or", folded, _Lit(None))
                resolved[sq] = folded
            elif isinstance(sq, _EXQ):
                resolved[sq] = _Lit(bool(idf.limit(1).collect()))
            else:
                rows = idf.collect()  # global aggregate: exactly one row
                val = rows[0][0] if rows else None
                if val is not None and not isinstance(val, _OK):
                    raise Unsupported(
                        f"scalar subquery value type {type(val).__name__}"
                    )
                resolved[sq] = _Lit(val)
            self.config.log.info(
                idec.fingerprint or "-",
                "static nested subquery folded as literal(s); "
                "enclosing fingerprint embeds the value(s)",
            )

        def _sub(n):
            return resolved.get(n, n) if isinstance(n, _KINDS) else n

        return dataclasses.replace(
            spec,
            predicate=(
                _transform(spec.predicate, _sub)
                if spec.predicate is not None
                else None
            ),
            having=(
                _transform(having, _sub) if having is not None else None
            ),
        )

    def _plan_full_outer(self, query: str, spec: AggSpec):
        """Pin ONE evaluation instant across the whole FULL composite.

        The A/M sub-plans capture now() inside their own ``_plan_cached``
        and the anti side pins now() for its WHERE; without a shared pin
        the halves could evaluate a now()-dependent predicate at two
        different instants and disagree near bound edges."""
        prev_pin = self._now_pin
        self._now_pin = self._now_ns()
        try:
            return self._plan_full_outer_pinned(query, spec)
        finally:
            self._now_pin = prev_pin

    def _plan_full_outer_pinned(self, query: str, spec: AggSpec):
        """FULL OUTER aggregate as a composite of maintainable pieces.

        The union-merge seam cannot maintain FULL OUTER directly: the
        dim-preserved half NULL-extends dim rows with no fact match, and
        those rows RETRACT when a fresh fact row matches (the r14 refusal).
        But the answer decomposes into pieces that ARE maintainable under
        the star contract (fact append-only, dim static):

        * ``A``   — the fact-preserved LEFT half, cached as a STATE-SPELLED
          aggregate (count/sum/min/max — finalize ≡ state for these; avg is
          decomposed into sum+count): the normal O(new) warm path.
        * ``M``   — the matched-dim-row set, cached as ``GROUP BY dim.*``
          over the INNER join: MONOTONE (matches never unmatch when facts
          only append), so it too is a plain O(new) incremental aggregate.
        * ``anti`` — dim rows with NO fact match = ``dim LEFT ANTI M``
          (null-safe on every dim column; equal dim rows share match
          status, and left_anti preserves multiplicity). O(dim) per query,
          recomputed fresh — this is the piece that retracts, so it is
          never stored.

        answer = finalize(merge(A, partial-states(anti with NULL fact
        columns))). The WHERE applies inside A (post-join, the engine's
        normal placement) and over the NULL-extended anti rows here —
        matched-ness itself is join-level, BEFORE the WHERE, so ``M``
        carries no predicate (a dim row whose every joined row the WHERE
        kills contributes nothing from either side, exactly like SQL).

        Unsupported shapes raise (→ passthrough): a FULL edge anywhere
        but closing the spine, multi-arg DISTINCT aggregates,
        approx_percentile (partial-time quantization), skew/kurt, and
        non-decomposable aggregate functions. count/sum/avg(DISTINCT)
        ride set states; median/percentile ride the RLE histogram
        state (r17).
        """
        from functools import reduce as _reduce

        from .functions.compile import to_column
        from .plans.ir import AggCall, BinOp, Cast, Col, JoinStep, Lit
        from .plans.ir import AggSpec as _AggSpec
        from .plans.ir import Func as _Func
        from .plans.ir import SelectItem, Star, transform

        cfg = self.config
        # r16 star generalization: ONE FULL edge CLOSING the spine, any
        # number of inner/left dim edges before it. The inner/left spine
        # (append-only fact x static dims) is itself append-only, so the
        # A and M decomposition arguments carry over verbatim; a FULL
        # edge anywhere but last would have later joins consume the
        # NULL-extended rows (different semantics) — refused.
        if not spec.join_steps or any(
            js.how == "full" for js in spec.join_steps[:-1]
        ):
            raise Unsupported("FULL edge must close the join spine")
        if spec.join_steps[-1].how != "full":
            raise Unsupported("FULL edge must close the join spine")
        inner_steps = tuple(spec.join_steps[:-1])
        for js in inner_steps:
            if js.how not in ("inner", "left"):
                raise Unsupported(
                    "FULL star admits only inner/left dim edges"
                )
        full_step = spec.join_steps[-1]
        if spec.grouping_fn_items and not spec.grouping_sets:
            raise Unsupported("grouping() without grouping sets")
        if spec.having is not None and spec.grouping_fn_items:
            from .plans.ir import Func as _GFunc

            if any(
                isinstance(n, _GFunc)
                and n.name.lower() in ("grouping", "grouping_id")
                for n in spec.having.walk()
            ):
                raise Unsupported("grouping() in HAVING over a FULL join")
        if spec.having is not None:
            # HAVING filters the MERGED frame (post-merge, pre-select);
            # its aggregates rewrite onto the same state columns. Only
            # volatile scalars make it uncacheable (normal-path rule).
            from .plans.classify import VOLATILE_FNS, VOLATILE_TIME_FNS
            from .plans.ir import Func as _Func

            for n in spec.having.walk():
                if isinstance(n, _Func) and n.name.lower() in (
                    VOLATILE_FNS | VOLATILE_TIME_FNS
                ):
                    raise Unsupported("volatile function in HAVING")

        ts_col = cfg.default_temporal_column
        if len(spec.tables or ()) != 1 + len(spec.join_steps):
            raise Unsupported("FULL join table count")
        if not inner_steps:
            t0, t1 = spec.tables
            cols0 = set(self.spark.table(t0).columns)
            cols1 = set(self.spark.table(t1).columns)
            if ts_col in cols0 and ts_col in cols1:
                raise Unsupported("temporal column on both FULL sides")
            if ts_col in cols0:
                fact, dim = t0, t1
            elif ts_col in cols1:
                # FULL commutes: re-anchor on the temporal side
                fact, dim = t1, t0
            else:
                raise Unsupported(
                    f"temporal column {ts_col} on neither FULL side"
                )
        else:
            # star shape: the head anchors the temporal fact; the FULL
            # dim must not carry the temporal column (no commute across
            # a multi-join spine)
            fact, dim = spec.table, full_step.table
            if ts_col not in set(self.spark.table(fact).columns):
                raise Unsupported(
                    "temporal column must anchor the FULL star's head"
                )
            if ts_col in set(self.spark.table(dim).columns):
                raise Unsupported("temporal column on the FULL dim side")
        cond = full_step.on
        using = full_step.using
        # USING spelling: the output key is the MERGED column; on anti
        # rows the fact side is NULL, so merged key ≡ the dim's value —
        # the anti frame simply omits the fact-side key columns and the
        # dim's carry the merged name
        if using and cond is not None:
            raise Unsupported("FULL join with both ON and USING")

        # first(x)/last(x) — the time-series definition (value at the
        # extreme temporal timestamp, _plan_cached's _fl rewrite): now
        # that the composite carries argmin pair states, desugar them
        # onto min_by/max_by here too (the fact anchors ts_col)
        def _fo_fl(e):
            if (
                isinstance(e, AggCall)
                and e.fn.lower() in ("first", "last")
                and not e.distinct
                and 1 <= len(e.args) <= 2
            ):
                fn2 = "min_by" if e.fn.lower() == "first" else "max_by"
                order = e.args[1] if len(e.args) == 2 else Col(ts_col)
                return AggCall(fn2, (e.args[0], order))
            return e

        import dataclasses as _dc

        spec = _dc.replace(
            spec,
            aggregates=tuple(
                SelectItem(it.name, transform(it.expr, _fo_fl))
                for it in spec.aggregates
            ),
            having=(
                transform(spec.having, _fo_fl)
                if spec.having is not None
                else None
            ),
        )

        # rewrite output aggregates onto state columns
        state_items: List[SelectItem] = []
        state_of: Dict[object, object] = {}
        #: min_by/max_by val-state name -> its paired key-state name
        #: (the pair merges together: extreme value AT the extreme key)
        argpair: Dict[str, str] = {}
        #: combined (n, s, m2) struct column name -> its (count, sum,
        #: var_samp) state-column triple — the var family's pairwise
        #: central-moment merge (the union holds <= 2 state rows per
        #: group, so ONE exact Chan combine suffices; collect_list is
        #: array_sort-pinned for fp determinism)
        var_pairs: Dict[str, tuple] = {}
        #: combined (n, s, m2, m3, m4) struct column name -> its
        #: (count, sum, var_pop, skewness, kurtosis) state-column tuple —
        #: skew/kurt (r17) extend the same pairwise Pébay merge to third
        #: and fourth central moments; per-half M2..M4 are recovered from
        #: Spark's OWN builtins exactly like partial.py's normal-path
        #: decomposition (M2 = vp·n, M3 = skew·vp^1.5·n,
        #: M4 = (kurt+3)·vp²·n — no raw power sums, no cancellation)
        mom_pairs: Dict[str, tuple] = {}
        #: combined (n, sx, sy, c2, m2x, m2y) struct column name -> its
        #: (count, sum_x, sum_y, covar_pop, var_pop_x, var_pop_y)
        #: state-column tuple — corr/covar/regr_* (r17) on the two-column
        #: central co-moment family; pair-validity gating rides the
        #: x+0·y / y+0·x null-propagation trick so every state input
        #: counts only both-non-null rows (SQL pair semantics)
        co_pairs: Dict[str, tuple] = {}

        def _add_state(call: AggCall) -> str:
            # dedup: count(DISTINCT x) and sum(DISTINCT x) share one set
            # state; two percentiles of one column share one histogram
            for si in state_items:
                if si.expr == call:
                    return si.name
            nm = f"__qcfo{len(state_items)}"
            state_items.append(SelectItem(nm, call))
            return nm

        def _numeric_out_t(arg) -> str:
            """The normal path's sum(DISTINCT) output typing (integral →
            long, float → double), resolved across the star's tables;
            anything else (decimal, expression args) refuses →
            passthrough, mirroring partial.py's plain-typed-column rule."""
            from pyspark.sql.types import (
                ByteType,
                DoubleType,
                FloatType,
                IntegerType,
                LongType,
                ShortType,
            )

            if not isinstance(arg, Col):
                raise Unsupported(
                    "FULL join DISTINCT aggregate needs a plain column"
                )
            cname = arg.name.split(".")[-1].lower()
            for t in (fact, *(js.table for js in inner_steps), dim):
                for f in self.spark.table(t).schema.fields:
                    if f.name.lower() == cname:
                        if isinstance(
                            f.dataType,
                            (ByteType, ShortType, IntegerType, LongType),
                        ):
                            return "long"
                        if isinstance(f.dataType, (FloatType, DoubleType)):
                            return "double"
                        raise Unsupported(
                            "FULL join sum/avg(DISTINCT) over "
                            "non-float/integral input"
                        )
            raise Unsupported(
                "FULL join DISTINCT aggregate column not in star schema"
            )

        def _repl(node):
            if not isinstance(node, AggCall):
                return node
            if node in state_of:
                return state_of[node]
            fn = node.fn.lower()
            if node.distinct:
                if fn == "count" and len(node.args) == 1 and not isinstance(
                    node.args[0], Star
                ):
                    # r16: EXACT count(DISTINCT x) — set state on both
                    # halves, union merge, cardinality after (plain
                    # counts never add across halves: the same value can
                    # appear on matched and anti dim rows)
                    nm = _add_state(AggCall("collect_set", node.args))
                    out = Cast(
                        _Func(
                            "coalesce",
                            (
                                _Func("array_size", (Col(nm),)),
                                Lit(0),
                            ),
                        ),
                        "BIGINT",
                    )
                    state_of[node] = out
                    return out
                if (
                    fn == "count"
                    and len(node.args) > 1
                    and not any(isinstance(a, Star) for a in node.args)
                ):
                    # r17: count(DISTINCT a, b, ...) — distinct TUPLES.
                    # Set state over __qc_struct tuples (deterministic
                    # f{i} field names, same as the normal path's tuple
                    # state); rows with ANY NULL component are excluded
                    # (SQL semantics) via an AND-gated CASE. Union merge
                    # + cardinality after, exactly the single-arg shape.
                    from .plans.ir import Case as _Case
                    from .plans.ir import IsNull as _IsNull
                    from .plans.ir import Not as _Not

                    valid: object = _Not(_IsNull(node.args[0]))
                    for a in node.args[1:]:
                        valid = BinOp("and", valid, _Not(_IsNull(a)))
                    gated = _Case(
                        ((valid, _Func("__qc_struct", node.args)),), None
                    )
                    nm = _add_state(AggCall("collect_set", (gated,)))
                    out = Cast(
                        _Func(
                            "coalesce",
                            (
                                _Func("array_size", (Col(nm),)),
                                Lit(0),
                            ),
                        ),
                        "BIGINT",
                    )
                    state_of[node] = out
                    return out
                if fn in ("sum", "avg", "mean") and len(node.args) == 1:
                    # r17: sum/avg(DISTINCT x) — the same set state as
                    # count(DISTINCT) (union merge; plain sums never add
                    # across halves: a value can appear on matched AND
                    # anti dim rows), folded to sum/avg in the OUTPUT
                    # position by the scalar compiler's __qc_set_* HOFs
                    out_t = _numeric_out_t(node.args[0])
                    nm = _add_state(AggCall("collect_set", node.args))
                    out = _Func(
                        "__qc_set_sum" if fn == "sum" else "__qc_set_avg",
                        (Col(nm), Lit(out_t)),
                    )
                    state_of[node] = out
                    return out
                raise Unsupported("FULL join with DISTINCT aggregate")
            if fn in self._FULL_MERGE:
                out = Col(_add_state(node))
            elif fn == "avg":
                s = Col(_add_state(AggCall("sum", node.args)))
                c = Col(_add_state(AggCall("count", node.args)))
                out = BinOp("/", s, c)
            elif fn in ("min_by", "max_by") and len(node.args) == 2:
                # r16: argmin/argmax pair states — the sub-plan outputs
                # the extreme value AND its key; the composite re-takes
                # the extreme across halves via min_by/max_by over the
                # pair (NULL keys — e.g. all-NULL anti rows — are
                # skipped by min_by exactly like SQL)
                vnm = _add_state(node)
                kfn = "min" if fn == "min_by" else "max"
                knm = _add_state(AggCall(kfn, (node.args[1],)))
                argpair[vnm] = knm
                out = Col(vnm)
            elif fn in (
                "var_samp", "variance", "var_pop",
                "stddev", "stddev_samp", "stddev_pop",
            ) and len(node.args) == 1:
                # r16: var family via pairwise central-moment (Chan)
                # merge of the two halves' (count, sum, M2) states —
                # M2 recovered from the sub-plan's var_samp output
                cn = _add_state(AggCall("count", node.args))
                sn = _add_state(AggCall("sum", node.args))
                vn = _add_state(AggCall("var_samp", node.args))
                vm = f"__qcfovm{len(var_pairs)}"
                var_pairs[vm] = (cn, sn, vn)
                n_f = Col(f"{vm}.n")
                m2_f = Col(f"{vm}.m2")
                from .plans.ir import Case as _Case

                if fn in ("var_samp", "variance", "stddev", "stddev_samp"):
                    core: object = _Case(
                        (
                            (
                                BinOp(">=", n_f, Lit(2)),
                                BinOp(
                                    "/", m2_f, BinOp("-", n_f, Lit(1))
                                ),
                            ),
                        ),
                        None,
                    )
                else:  # var_pop / stddev_pop
                    core = _Case(
                        (
                            (
                                BinOp(">=", n_f, Lit(1)),
                                BinOp("/", m2_f, n_f),
                            ),
                        ),
                        None,
                    )
                if fn in ("stddev", "stddev_samp", "stddev_pop"):
                    core = _Func("sqrt", (core,))
                state_of[node] = core
                return core
            elif fn in ("skewness", "kurtosis") and len(node.args) == 1:
                # r17: third/fourth central moments. Both fns share ONE
                # (n, s, m2, m3, m4) struct per column (state dedup), so
                # skew+kurt of one column cost one moment family.
                cn = _add_state(AggCall("count", node.args))
                sn = _add_state(AggCall("sum", node.args))
                pn = _add_state(AggCall("var_pop", node.args))
                kn = _add_state(AggCall("skewness", node.args))
                qn = _add_state(AggCall("kurtosis", node.args))
                key = (cn, sn, pn, kn, qn)
                vm = next(
                    (m for m, t in mom_pairs.items() if t == key), None
                )
                if vm is None:
                    vm = f"__qcfomo{len(mom_pairs)}"
                    mom_pairs[vm] = key
                n_f = Col(f"{vm}.n")
                m2_f = Col(f"{vm}.m2")
                from .plans.ir import Case as _Case

                if fn == "skewness":
                    # sqrt(n)·M3/M2^1.5; m2 > 0 implies n >= 2, and the
                    # guard keeps ANSI mode off DIVIDE_BY_ZERO
                    core = _Case(
                        (
                            (
                                BinOp(">", m2_f, Lit(0)),
                                BinOp(
                                    "/",
                                    BinOp(
                                        "*",
                                        _Func("sqrt", (n_f,)),
                                        Col(f"{vm}.m3"),
                                    ),
                                    _Func("power", (m2_f, Lit(1.5))),
                                ),
                            ),
                        ),
                        None,
                    )
                else:
                    # n·M4/M2² − 3 (excess kurtosis)
                    core = _Case(
                        (
                            (
                                BinOp(">", m2_f, Lit(0)),
                                BinOp(
                                    "-",
                                    BinOp(
                                        "/",
                                        BinOp(
                                            "*", n_f, Col(f"{vm}.m4")
                                        ),
                                        BinOp("*", m2_f, m2_f),
                                    ),
                                    Lit(3.0),
                                ),
                            ),
                        ),
                        None,
                    )
                state_of[node] = core
                return core
            elif fn == "approx_count_distinct" and len(node.args) == 1:
                # r16: HLL sketch state — both halves produce sketches,
                # the composite unions them register-wise and estimates
                # AFTER the merge (estimates themselves never add: the
                # same value can appear on matched and anti dim rows)
                nm = _add_state(AggCall("hll_sketch_agg", node.args))
                out = _Func("hll_sketch_estimate", (Col(nm),))
            elif fn in (
                "median", "percentile", "percentile_cont",
                "approx_percentile", "percentile_approx",
            ):
                # r17: exact percentile — both halves emit the RLE
                # histogram state (__qc_hist: "finalize ≡ state"), the
                # union merge sorted-flattens the two multisets, and the
                # interpolation walk runs in the OUTPUT position
                # (partial.histogram_percentile via __qc_pctl_fin).
                # approx forms ride the SAME state over a __qc_ddq
                # pre-quantized argument (shared ddsketch_quantize
                # binning); eps travels as a literal, so the entry's
                # fingerprint embeds the bin layout — a config eps
                # change is a new cold entry, never a mixed histogram.
                approx = fn in ("approx_percentile", "percentile_approx")
                if approx:
                    if not getattr(
                        cfg, "approx_percentile_sketch", False
                    ):
                        raise Unsupported(
                            "approx percentile sketch disabled"
                        )
                    eps = float(
                        getattr(cfg, "approx_percentile_eps", 0.01)
                    )
                    if not (0.0 < eps < 0.5):
                        raise Unsupported(
                            "approx_percentile_eps out of (0, 0.5)"
                        )
                if fn == "median":
                    if len(node.args) != 1:
                        raise Unsupported("median takes one argument")
                    pv = 0.5
                else:
                    nargs = (2, 3) if approx else (2,)
                    if len(node.args) not in nargs or not isinstance(
                        node.args[1], Lit
                    ):
                        raise Unsupported(
                            f"FULL join {fn} fraction must be a literal"
                        )
                    import decimal as _decimal

                    fv = node.args[1].value
                    if isinstance(fv, bool) or not isinstance(
                        fv, (int, float, _decimal.Decimal)
                    ):
                        raise Unsupported(
                            f"FULL join {fn} fraction must be numeric"
                        )
                    pv = float(fv)
                    if not (0.0 <= pv <= 1.0):
                        raise Unsupported(
                            f"FULL join {fn} fraction out of [0,1]"
                        )
                    if len(node.args) == 3 and not isinstance(
                        node.args[2], Lit
                    ):
                        raise Unsupported(
                            f"FULL join {fn} accuracy must be a literal"
                        )
                argx = node.args[0]
                if approx:
                    argx = _Func("__qc_ddq", (argx, Lit(eps)))
                nm = _add_state(AggCall("__qc_hist", (argx,)))
                out = _Func("__qc_pctl_fin", (Col(nm), Lit(pv)))
            elif fn in (
                "corr", "covar_samp", "covar_pop",
                "regr_slope", "regr_intercept", "regr_r2", "regr_count",
                "regr_avgx", "regr_avgy",
                "regr_sxx", "regr_syy", "regr_sxy",
            ) and len(node.args) == 2:
                # r17: two-column co-moment family. regr_F(y, x) puts the
                # DEPENDENT first (Spark ≡ DuckDB), so its x is args[1];
                # corr/covar keep (x, y) order. corr(a,b) and
                # regr_*(b,a) share one struct via state dedup.
                if fn.startswith("regr_"):
                    ya, xa = node.args
                else:
                    xa, ya = node.args
                # pair-validity gating: NULL propagates through x+0·y,
                # so count/sum/var_pop see only both-non-null rows
                xp = BinOp("+", xa, BinOp("*", Lit(0), ya))
                yp = BinOp("+", ya, BinOp("*", Lit(0), xa))
                cn = _add_state(AggCall("count", (xp,)))
                sxn = _add_state(AggCall("sum", (xp,)))
                syn = _add_state(AggCall("sum", (yp,)))
                cvn = _add_state(AggCall("covar_pop", (xa, ya)))
                vxn = _add_state(AggCall("var_pop", (xp,)))
                vyn = _add_state(AggCall("var_pop", (yp,)))
                key = (cn, sxn, syn, cvn, vxn, vyn)
                vm = next(
                    (m for m, t in co_pairs.items() if t == key), None
                )
                if vm is None:
                    vm = f"__qcfoco{len(co_pairs)}"
                    co_pairs[vm] = key
                n_f = Col(f"{vm}.n")
                c2_f = Col(f"{vm}.c2")
                m2x_f = Col(f"{vm}.m2x")
                m2y_f = Col(f"{vm}.m2y")
                mx_f = BinOp("/", Col(f"{vm}.sx"), n_f)
                my_f = BinOp("/", Col(f"{vm}.sy"), n_f)
                from .plans.ir import Case as _Case

                def _c(cond, val):
                    return _Case(((cond, val),), None)

                gt1 = BinOp(">", n_f, Lit(1))
                gt0 = BinOp(">", n_f, Lit(0))
                # n = 0 ⇒ m2x = 0 (fold init), so m2x != 0 alone guards
                # the slope family — mirrors the normal path's cM2X != 0
                nz_x = BinOp("!=", m2x_f, Lit(0.0))
                if fn == "corr":
                    # IEEE NaN/Inf on constant columns for n > 1 flows
                    # from the double division, matching Spark
                    core: object = _c(
                        gt1,
                        BinOp(
                            "/",
                            c2_f,
                            BinOp(
                                "*",
                                _Func("sqrt", (m2x_f,)),
                                _Func("sqrt", (m2y_f,)),
                            ),
                        ),
                    )
                elif fn == "covar_samp":
                    core = _c(gt1, BinOp("/", c2_f, BinOp("-", n_f, Lit(1))))
                elif fn == "covar_pop":
                    core = _c(gt0, BinOp("/", c2_f, n_f))
                elif fn == "regr_count":
                    core = Cast(n_f, "BIGINT")
                elif fn == "regr_avgx":
                    core = _c(gt0, mx_f)
                elif fn == "regr_avgy":
                    core = _c(gt0, my_f)
                elif fn == "regr_sxx":
                    core = _c(gt0, m2x_f)
                elif fn == "regr_syy":
                    core = _c(gt0, m2y_f)
                elif fn == "regr_sxy":
                    core = _c(gt0, c2_f)
                elif fn == "regr_slope":
                    core = _c(nz_x, BinOp("/", c2_f, m2x_f))
                elif fn == "regr_intercept":
                    core = _c(
                        nz_x,
                        BinOp(
                            "-",
                            my_f,
                            BinOp(
                                "*", BinOp("/", c2_f, m2x_f), mx_f
                            ),
                        ),
                    )
                else:  # regr_r2 — SQL standard: NULL when M2x=0,
                    # 1 when M2y=0, else C2²/(M2x·M2y)
                    core = _c(
                        nz_x,
                        _Case(
                            (
                                (
                                    BinOp("=", m2y_f, Lit(0.0)),
                                    Lit(1.0),
                                ),
                            ),
                            BinOp(
                                "/",
                                BinOp("*", c2_f, c2_f),
                                BinOp("*", m2x_f, m2y_f),
                            ),
                        ),
                    )
                state_of[node] = core
                return core
            else:
                raise Unsupported(f"FULL join with aggregate {fn}")
            state_of[node] = out
            return out

        out_aggs = [
            SelectItem(it.name, transform(it.expr, _repl))
            for it in spec.aggregates
        ]
        having_expr = (
            transform(spec.having, _repl)
            if spec.having is not None
            else None
        )  # before left_spec freezes state_items

        g_names = [it.name for it in spec.group_by]
        s_names = [s.name for s in state_items]
        sub_tables = (
            (fact,) + tuple(js.table for js in inner_steps) + (dim,)
        )
        left_spec = _AggSpec(
            table=fact,
            predicate=spec.predicate,
            group_by=spec.group_by,
            aggregates=tuple(state_items),
            select_order=tuple(g_names) + tuple(s_names),
            tables=sub_tables,
            join_steps=inner_steps
            + (JoinStep(dim, cond, "left", using=using),),
        )
        dim_cols = self.spark.table(dim).columns
        matched_spec = _AggSpec(
            table=fact,
            predicate=None,  # matched-ness is join-level, pre-WHERE
            group_by=tuple(SelectItem(c, Col(c)) for c in dim_cols),
            aggregates=(SelectItem("__qcm", AggCall("count", (Star(),))),),
            select_order=tuple(dim_cols) + ("__qcm",),
            tables=sub_tables,
            join_steps=inner_steps
            + (JoinStep(dim, cond, "inner", using=using),),
        )

        dfA, decA = self._plan_cached(f"{query} /*qc:full-left*/", left_spec)
        dfM, decM = self._plan_cached(
            f"{query} /*qc:full-matched*/", matched_spec
        )

        # anti side: dim rows never matched (null-safe on EVERY dim column
        # — equal rows share match status; left_anti keeps multiplicity)
        dim_df = self.spark.table(dim)
        a = dim_df.alias("__qc_d")
        b = dfM.select(*dim_cols).alias("__qc_m")
        anti_cond = _reduce(
            lambda x, y: x & y,
            [
                F.col(f"__qc_d.{c}").eqNullSafe(F.col(f"__qc_m.{c}"))
                for c in dim_cols
            ],
        )
        anti = a.join(b, anti_cond, "left_anti")
        # NULL-extend the whole SPINE (fact + every inner/left dim): an
        # anti row has NO spine match, so every spine column is NULL.
        # USING keys merge: the FULL dim's columns carry the merged name
        # (spine side is NULL on anti rows, coalesce ≡ dim value); an
        # inner edge's USING keys collapse into the spine output.
        fu = {u.lower() for u in (using or ())}
        spine_fields = [
            f
            for f in self.spark.table(fact).schema.fields
            if f.name.lower() not in fu
        ]
        for js in inner_steps:
            jk = {u.lower() for u in (js.using or ())}
            spine_fields.extend(
                f
                for f in self.spark.table(js.table).schema.fields
                if f.name.lower() not in jk and f.name.lower() not in fu
            )
        all_names = [f.name.lower() for f in spine_fields] + [
            c.lower() for c in dim_cols
        ]
        if len(set(all_names)) != len(all_names):
            raise Unsupported("ambiguous column names across the FULL star")
        anti_base = anti.select(
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in spine_fields
            ],
            *[F.col(c) for c in dim_cols],
        )
        if spec.predicate is not None:
            pred = self._pin_now(spec.predicate, self._now_ns())
            anti_base = anti_base.filter(to_column(pred))

        def _agg_col(call: AggCall):
            fn = call.fn.lower()
            if fn == "count" and (
                not call.args or isinstance(call.args[0], Star)
            ):
                return F.count(F.lit(1))
            if fn in ("min_by", "max_by"):
                f_by = F.min_by if fn == "min_by" else F.max_by
                return f_by(
                    to_column(call.args[0]), to_column(call.args[1])
                )
            if fn == "covar_pop":
                return F.covar_pop(
                    to_column(call.args[0]), to_column(call.args[1])
                )
            if fn == "__qc_hist":
                # same entry shape as partial.py's histogram partial
                a = to_column(call.args[0]).cast("double")
                he = F.when(
                    a.isNotNull(),
                    F.struct(
                        a.alias("v"), F.lit(1).cast("long").alias("c")
                    ),
                )
                return F.sort_array(F.collect_list(he))
            arg = to_column(call.args[0])
            return {
                "count": F.count,
                "sum": F.sum,
                "min": F.min,
                "max": F.max,
                "product": F.product,
                "bool_and": F.bool_and,
                "bool_or": F.bool_or,
                "bit_and": F.bit_and,
                "bit_or": F.bit_or,
                "bit_xor": F.bit_xor,
                "hll_sketch_agg": F.hll_sketch_agg,
                "collect_set": F.collect_set,
                "var_samp": F.var_samp,
                "var_pop": F.var_pop,
                "skewness": F.skewness,
                "kurtosis": F.kurtosis,
            }[fn](arg)

        anti_states = anti_base.groupBy(
            *[to_column(it.expr).alias(it.name) for it in spec.group_by]
        ).agg(*[_agg_col(si.expr).alias(si.name) for si in state_items])

        var_inputs = {nm for tpl in var_pairs.values() for nm in tpl}
        mom_inputs = {nm for tpl in mom_pairs.values() for nm in tpl}

        def _chan(acc, x):
            n = acc["n"] + x["n"]
            srm = acc["s"] + x["s"]
            m2 = (
                F.when(acc["n"] == 0, x["m2"])
                .when(x["n"] == 0, acc["m2"])
                .otherwise(
                    acc["m2"]
                    + x["m2"]
                    + F.pow(
                        x["s"] / x["n"].cast("double")
                        - acc["s"] / acc["n"].cast("double"),
                        F.lit(2.0),
                    )
                    * acc["n"].cast("double")
                    * x["n"].cast("double")
                    / n.cast("double")
                )
            )
            return F.struct(n.alias("n"), srm.alias("s"), m2.alias("m2"))

        def _var_fold(elem, vm):
            return F.aggregate(
                F.array_sort(F.collect_list(elem)),
                F.struct(
                    F.lit(0).cast("long").alias("n"),
                    F.lit(0.0).alias("s"),
                    F.lit(0.0).alias("m2"),
                ),
                _chan,
            ).alias(vm)

        def _chan4(acc, x):
            """Pairwise Pébay combine of (n, s, m2, m3, m4) — the same
            update Spark's CentralMomentAgg.merge performs, written with
            sum-based means. CASE evaluates lazily, so the empty-half
            branches shield the divisions."""
            n1, n2 = acc["n"], x["n"]
            n1d, n2d = n1.cast("double"), n2.cast("double")
            n = n1 + n2
            nd = n.cast("double")
            delta = x["s"] / n2d - acc["s"] / n1d
            dn = delta / nd
            a2, b2 = acc["m2"], x["m2"]
            a3, b3 = acc["m3"], x["m3"]
            m2 = a2 + b2 + delta * dn * n1d * n2d
            m3 = (
                a3
                + b3
                + dn * dn * delta * n1d * n2d * (n1d - n2d)
                + F.lit(3.0) * dn * (n1d * b2 - n2d * a2)
            )
            m4 = (
                acc["m4"]
                + x["m4"]
                + dn
                * dn
                * dn
                * delta
                * n1d
                * n2d
                * (n1d * n1d - n1d * n2d + n2d * n2d)
                + F.lit(6.0) * dn * dn * (n1d * n1d * b2 + n2d * n2d * a2)
                + F.lit(4.0) * dn * (n1d * b3 - n2d * a3)
            )
            return (
                F.when(n1 == 0, x)
                .when(n2 == 0, acc)
                .otherwise(
                    F.struct(
                        n.alias("n"),
                        (acc["s"] + x["s"]).alias("s"),
                        m2.alias("m2"),
                        m3.alias("m3"),
                        m4.alias("m4"),
                    )
                )
            )

        def _mom_fold(elem, vm):
            return F.aggregate(
                F.array_sort(F.collect_list(elem)),
                F.struct(
                    F.lit(0).cast("long").alias("n"),
                    F.lit(0.0).alias("s"),
                    F.lit(0.0).alias("m2"),
                    F.lit(0.0).alias("m3"),
                    F.lit(0.0).alias("m4"),
                ),
                _chan4,
            ).alias(vm)

        def _chan2c(acc, x):
            """Pairwise co-moment combine of (n, sx, sy, c2, m2x, m2y) —
            Spark's Covariance.merge update with sum-based means."""
            n1, n2 = acc["n"], x["n"]
            n1d, n2d = n1.cast("double"), n2.cast("double")
            n = n1 + n2
            nd = n.cast("double")
            dx = x["sx"] / n2d - acc["sx"] / n1d
            dy = x["sy"] / n2d - acc["sy"] / n1d
            dxn = dx / nd
            dyn_ = dy / nd
            return (
                F.when(n1 == 0, x)
                .when(n2 == 0, acc)
                .otherwise(
                    F.struct(
                        n.alias("n"),
                        (acc["sx"] + x["sx"]).alias("sx"),
                        (acc["sy"] + x["sy"]).alias("sy"),
                        (acc["c2"] + x["c2"] + dx * dyn_ * n1d * n2d).alias(
                            "c2"
                        ),
                        (
                            acc["m2x"] + x["m2x"] + dx * dxn * n1d * n2d
                        ).alias("m2x"),
                        (
                            acc["m2y"] + x["m2y"] + dy * dyn_ * n1d * n2d
                        ).alias("m2y"),
                    )
                )
            )

        def _co_fold(elem, vm):
            return F.aggregate(
                F.array_sort(F.collect_list(elem)),
                F.struct(
                    F.lit(0).cast("long").alias("n"),
                    F.lit(0.0).alias("sx"),
                    F.lit(0.0).alias("sy"),
                    F.lit(0.0).alias("c2"),
                    F.lit(0.0).alias("m2x"),
                    F.lit(0.0).alias("m2y"),
                ),
                _chan2c,
            ).alias(vm)

        def _merge_cols(first: bool):
            """Merge-aggregate expressions over a frame carrying the
            state columns. ``first=True``: the union frame (raw state
            items; var/moment pairs build their (n, s, m2[, m3, m4])
            struct from their state tuples). ``first=False``: a
            re-aggregation over the already-merged frame (pairs re-fold
            their existing structs — Chan/Pébay is associative, the
            order-pinned fold handles any row count).

            A state is OMITTED from per-column merging only when its fn
            has no independent merge (var_samp/var_pop/skewness/
            kurtosis — consumed exclusively through pair structs).
            count/sum states always merge per-column even when a pair
            also consumes them: _add_state dedups, so a plain count(x)
            output may share the state a var/moment struct reads."""
            out = []
            for si in state_items:
                if si.expr.fn.lower() in (
                    "var_samp", "var_pop", "skewness", "kurtosis",
                    "covar_pop",
                ):
                    continue
                fn = si.expr.fn.lower()
                if si.name in argpair:
                    f_by = F.min_by if fn == "min_by" else F.max_by
                    out.append(
                        f_by(
                            F.col(si.name), F.col(argpair[si.name])
                        ).alias(si.name)
                    )
                    continue
                m = {
                    "count": F.sum,
                    "sum": F.sum,
                    "min": F.min,
                    "max": F.max,
                    "product": F.product,
                    "bool_and": F.bool_and,
                    "bool_or": F.bool_or,
                    "bit_and": F.bit_and,
                    "bit_or": F.bit_or,
                    "bit_xor": F.bit_xor,
                    "hll_sketch_agg": F.hll_union_agg,
                    "collect_set": (
                        lambda c: F.array_distinct(
                            F.flatten(F.collect_list(c))
                        )
                    ),
                    # histogram multisets: sorted flatten (associative,
                    # the same merge the normal path's state uses)
                    "__qc_hist": (
                        lambda c: F.sort_array(
                            F.flatten(F.collect_list(c))
                        )
                    ),
                }[fn](F.col(si.name))
                if fn == "count":
                    m = F.coalesce(m, F.lit(0)).cast("long")
                out.append(m.alias(si.name))
            for vm, (cn, sn, vn) in var_pairs.items():
                if first:
                    elem = F.struct(
                        F.coalesce(F.col(cn), F.lit(0))
                        .cast("long")
                        .alias("n"),
                        F.coalesce(F.col(sn), F.lit(0.0))
                        .cast("double")
                        .alias("s"),
                        F.when(
                            F.col(cn) >= 2,
                            F.col(vn)
                            * (F.col(cn) - F.lit(1)).cast("double"),
                        )
                        .otherwise(F.lit(0.0))
                        .alias("m2"),
                    )
                else:
                    elem = F.struct(
                        F.col(f"{vm}.n").alias("n"),
                        F.col(f"{vm}.s").alias("s"),
                        F.col(f"{vm}.m2").alias("m2"),
                    )
                out.append(_var_fold(elem, vm))
            for vm, (cn, sn, pn, kn, qn) in mom_pairs.items():
                if first:
                    cd = F.col(cn).cast("double")
                    # M2..M4 from the half's own builtins — the exact
                    # inversions partial.py's normal-path states use
                    # (vp NULL on empty halves -> coalesce 0)
                    m2e = F.coalesce(F.col(pn) * cd, F.lit(0.0))
                    m3e = F.coalesce(
                        F.col(kn)
                        * F.pow(F.col(pn), F.lit(1.5))
                        * cd,
                        F.lit(0.0),
                    )
                    m4e = F.coalesce(
                        (F.col(qn) + F.lit(3.0))
                        * F.col(pn)
                        * F.col(pn)
                        * cd,
                        F.lit(0.0),
                    )
                    elem = F.struct(
                        F.coalesce(F.col(cn), F.lit(0))
                        .cast("long")
                        .alias("n"),
                        F.coalesce(F.col(sn), F.lit(0.0))
                        .cast("double")
                        .alias("s"),
                        m2e.alias("m2"),
                        m3e.alias("m3"),
                        m4e.alias("m4"),
                    )
                else:
                    elem = F.struct(
                        F.col(f"{vm}.n").alias("n"),
                        F.col(f"{vm}.s").alias("s"),
                        F.col(f"{vm}.m2").alias("m2"),
                        F.col(f"{vm}.m3").alias("m3"),
                        F.col(f"{vm}.m4").alias("m4"),
                    )
                out.append(_mom_fold(elem, vm))
            for vm, (cn, sxn, syn, cvn, vxn, vyn) in co_pairs.items():
                if first:
                    cd = F.col(cn).cast("double")
                    elem = F.struct(
                        F.coalesce(F.col(cn), F.lit(0))
                        .cast("long")
                        .alias("n"),
                        F.coalesce(F.col(sxn), F.lit(0.0))
                        .cast("double")
                        .alias("sx"),
                        F.coalesce(F.col(syn), F.lit(0.0))
                        .cast("double")
                        .alias("sy"),
                        F.coalesce(F.col(cvn) * cd, F.lit(0.0)).alias(
                            "c2"
                        ),
                        F.coalesce(F.col(vxn) * cd, F.lit(0.0)).alias(
                            "m2x"
                        ),
                        F.coalesce(F.col(vyn) * cd, F.lit(0.0)).alias(
                            "m2y"
                        ),
                    )
                else:
                    elem = F.struct(
                        F.col(f"{vm}.n").alias("n"),
                        F.col(f"{vm}.sx").alias("sx"),
                        F.col(f"{vm}.sy").alias("sy"),
                        F.col(f"{vm}.c2").alias("c2"),
                        F.col(f"{vm}.m2x").alias("m2x"),
                        F.col(f"{vm}.m2y").alias("m2y"),
                    )
                out.append(_co_fold(elem, vm))
            return out

        merge_exprs = _merge_cols(first=True)
        unioned = dfA.select(*g_names, *s_names).unionByName(
            anti_states.select(*g_names, *s_names)
        )
        merged = unioned.groupBy(*[F.col(n) for n in g_names]).agg(
            *merge_exprs
        )

        if spec.grouping_sets:
            # ROLLUP/CUBE/GROUPING SETS over the FULL composite (r16):
            # the merged frame IS the finest-granularity state, and its
            # merge vocabulary (sum/min/max/set-union/HLL-union/argmin
            # pairs) re-aggregates each coarser set — the same
            # associativity law the normal path's expansion uses. Anti
            # groups' natural-NULL keys group like values (grouping()=0),
            # subtotal NULLs are typed literals per part, and the
            # grouping()/grouping_id() flags are pure functions of WHICH
            # set a row came from.
            def fo_flag_cols(st_idx):
                cols = []
                for item in spec.grouping_fn_items:
                    args = item.expr.args or tuple(
                        g.expr for g in spec.group_by
                    )

                    def flag(arg) -> int:
                        for i, g in enumerate(spec.group_by):
                            if g.expr == arg or (
                                isinstance(arg, Col) and arg.name == g.name
                            ):
                                return 0 if i in st_idx else 1
                        raise Unsupported(
                            "grouping() argument not a group key"
                        )

                    if item.expr.name.lower() == "grouping":
                        cols.append(
                            F.lit(flag(args[0]))
                            .cast("tinyint")
                            .alias(item.name)
                        )
                    else:
                        gid = 0
                        for arg in args:
                            gid = gid * 2 + flag(arg)
                        cols.append(
                            F.lit(gid).cast("bigint").alias(item.name)
                        )
                return cols

            # re-aggregation over the MERGED frame: per-item merges
            # re-apply by name; var pairs re-fold their structs
            reagg_exprs = _merge_cols(first=False)
            kept_names = [
                si.name
                for si in state_items
                if si.expr.fn.lower()
                not in (
                    "var_samp", "var_pop", "skewness", "kurtosis",
                    "covar_pop",
                )
            ] + list(var_pairs) + list(mom_pairs) + list(co_pairs)
            dt_map = dict(merged.dtypes)
            parts = []
            for st_idx in spec.grouping_sets:
                keys = [g_names[i] for i in st_idx]
                gagg = merged.groupBy(*[F.col(k) for k in keys]).agg(
                    *reagg_exprs
                )
                sel = (
                    [F.col(k) for k in keys]
                    + [
                        F.lit(None).cast(dt_map[n]).alias(n)
                        for n in g_names
                        if n not in keys
                    ]
                    + [F.col(n) for n in kept_names]
                    + fo_flag_cols(st_idx)
                )
                parts.append(gagg.select(*sel))
            acc = parts[0]
            for p2 in parts[1:]:
                acc = acc.unionByName(p2)
            merged = acc

        if having_expr is not None:
            merged = merged.filter(to_column(having_expr))

        agg_by_name = {it.name: it for it in out_aggs}
        out_cols = []
        for name in spec.select_order:
            if name in agg_by_name:
                out_cols.append(
                    to_column(agg_by_name[name].expr).alias(name)
                )
            else:
                out_cols.append(F.col(name))
        df = merged.select(*out_cols)

        sort_cols: List[Column] = []
        if spec.order_by:
            by_expr = {it.expr: it.name for it in spec.group_by}
            by_expr.update({it.expr: it.name for it in spec.aggregates})
            for o in spec.order_by:
                e = o.expr
                if isinstance(e, Lit) and isinstance(e.value, int):
                    if not 1 <= e.value <= len(spec.select_order):
                        # mirror the sibling planners: out-of-range
                        # ordinals pass through so Spark's
                        # ORDER_BY_POS_OUT_OF_RANGE stays authoritative
                        raise Unsupported("order-by position out of range")
                    nm = spec.select_order[e.value - 1]
                elif isinstance(e, Col) and e.name in spec.select_order:
                    nm = e.name
                elif e in by_expr:
                    nm = by_expr[e]
                else:
                    raise Unsupported("FULL join ORDER BY expression")
                c = F.col(nm)
                if o.desc:
                    c = (
                        c.desc_nulls_first()
                        if o.nulls_first
                        else c.desc_nulls_last()
                        if o.nulls_first is not None
                        else c.desc()
                    )
                else:
                    c = (
                        c.asc_nulls_first()
                        if o.nulls_first
                        else c.asc_nulls_last()
                        if o.nulls_first is not None
                        else c.asc()
                    )
                sort_cols.append(c)

        # r18 (guide §1.2 job shape): when the merge is provably SMALL,
        # evaluate it EAGERLY — single-partition sort (no range-sampling
        # pass), one Arrow collect on the AQE-off clone session — and
        # hand back a LocalRelation, exactly what the normal warm path's
        # fused finalize returns. Lazily executing the same merge at the
        # user's action materialized ~6 AQE stage-jobs (~0.15 s
        # scheduling each) over frames of a few hundred rows. Big states
        # or a big dim fall through to the lazy plan below, where AQE
        # earns its stages.
        eager = self._fo_eager_merge(df, sort_cols, spec)
        if eager is not None:
            df = eager
        else:
            if sort_cols:
                df = df.orderBy(*sort_cols)
            if spec.offset is not None:
                df = df.offset(spec.offset)
            if spec.limit is not None:
                df = df.limit(spec.limit)

        decision = Decision(
            sql=query,
            cached=bool(decA.cached and decM.cached),
            cache_hit=bool(decA.cache_hit and decM.cache_hit),
            fingerprint=decA.fingerprint,
            watermark_ns=decA.watermark_ns,
            now_ns=decA.now_ns,
            refresh_tier="full_outer",
        )
        cfg.log.info(
            decA.fingerprint or "-",
            "full-outer composite: cached LEFT states + cached matched-dim "
            "set + O(dim) anti side",
        )
        return df, decision

    def _fo_eager_merge(
        self, df: DataFrame, sort_cols, spec: AggSpec
    ) -> Optional[DataFrame]:
        """Collect a small FULL-composite merge once via Arrow (on the
        AQE-off execution clone when available) and re-enter it as a
        LocalRelation with the lazy plan's exact schema. The ORDER BY is
        applied as a single-partition sort — the frame is provably small,
        so a global range sort would only add its sampling pass — and
        OFFSET/LIMIT apply to the sorted single partition, preserving the
        lazy plan's semantics exactly. Returns None when the merge is not
        provably small or anything fails (caller keeps the lazy plan).

        Row it serves: ``qc_fo_x1000_warm`` (the FULL-composite warm
        refresh over the x1000 fact table)."""
        try:
            from .operators.spread import (
                exec_session,
                is_small_input,
                on_session,
            )

            if not is_small_input(df):
                return None
            schema = df.schema
            ldf = df
            if sort_cols:
                ldf = ldf.coalesce(1).sortWithinPartitions(*sort_cols)
            if spec.offset is not None:
                ldf = ldf.offset(spec.offset)
            if spec.limit is not None:
                ldf = ldf.limit(spec.limit)
            clone = exec_session(self.spark)
            rdf = on_session(ldf, clone) if clone is not None else ldf
            tbl = rdf.toArrow()
            return arrow_to_spark(self.spark, tbl, schema=schema)
        except Exception:
            return None

    def _plan_cached(self, query: str, spec: Optional[AggSpec] = None):
        cfg = self.config
        if spec is None:
            spec = parse_agg_query(query)

        # fold BEFORE the FULL dispatch: a static scalar inside a FULL
        # composite's WHERE must reach the A/anti halves as a literal
        spec = self._fold_static_scalars(query, spec)

        if any(js.how == "full" for js in spec.join_steps):
            return self._plan_full_outer(query, spec)

        if spec.having is not None:
            # HAVING sits above the aggregate, so it never affects cached
            # state: plan it as a hidden select item and filter at finalize.
            # Only volatile scalars make it uncacheable.
            from .plans.classify import VOLATILE_FNS, VOLATILE_TIME_FNS
            from .plans.ir import Func as _Func

            for n in spec.having.walk():
                if isinstance(n, _Func) and n.name.lower() in (
                    VOLATILE_FNS | VOLATILE_TIME_FNS
                ):
                    raise Unsupported("volatile function in HAVING")

        if spec.grouping_fn_items and not spec.grouping_sets:
            raise Unsupported("grouping() without grouping sets")

        cls = classify(spec.predicate, cfg.temporal_columns)
        if cls.verdict is Verdict.ABANDON:
            raise Unsupported(f"predicate not stable: {cls.reason}")
        dyn_bound = None
        state_pred_expr = spec.predicate
        if cls.verdict is Verdict.FOUND:
            # Dynamic lower bound (`ts > now() - Δ`): beyond-reference — the
            # reference detects these and hard-errors
            # (``src/aggregate.rs:191-193``, README.md:131-132 unchecked).
            # Strategy: cache BOUND-INDEPENDENT state at bucket granularity
            # (so every Δ shares one entry); at read time take full buckets
            # above the boundary from state and recompute only the boundary
            # bucket exactly from raw rows (a pushed-down, one-bucket scan).
            split = split_dynamic_bound(spec.predicate, cfg.temporal_columns)
            if split is None:
                raise Unsupported("dynamic bound not in a plain AND conjunction")
            state_pred_expr, dyn_bound = split
        elif cls.verdict is Verdict.FOUND_NOW:
            raise Unsupported("now() outside a lower-bound comparison")

        tgb, ok = find_temporal_group_by(
            spec.group_by, cfg.temporal_columns, cfg.group_by_functions
        )
        if not ok:
            raise Unsupported("more than one temporal group-by bucket")

        ts_col = tgb.column if tgb else cfg.default_temporal_column
        if tgb is None and dyn_bound is None:
            # no temporal group-by or dynamic bound names the column: fall
            # back to a CONFIGURED temporal column that exists on the fact
            # table when the default doesn't (e.g. CUBE over lineitem with
            # l_shipdate in extra_temporal_columns) — deterministic pick
            # (sorted) when several qualify
            try:
                fact_cols = set(
                    self.spark.table((spec.tables or (spec.table,))[0]).columns
                )
            except Exception:
                fact_cols = set()
            if ts_col not in fact_cols:
                alts = sorted(
                    c for c in cfg.temporal_columns if c in fact_cols
                )
                if alts:
                    ts_col = alts[0]
        if dyn_bound is not None and tgb is not None and tgb.column != dyn_bound.column:
            raise Unsupported("dynamic bound on a different column than the bucket")
        if dyn_bound is not None:
            ts_col = dyn_bound.column

        # first(x)/last(x) — time-series semantics (TimescaleDB first/last,
        # DataFusion first_value ordered): value at the minimum/maximum
        # temporal timestamp. Rewritten onto the existing argmin/argmax
        # state (min_by/max_by) so they merge exactly across refreshes;
        # the two-arg form first(x, k) takes an explicit ordering key.
        # (Bare Spark first() is ORDER-ARBITRARY and would be both
        # nondeterministic and non-mergeable — this definition is the one
        # dashboards actually want.)
        def _fl(e):
            from .plans.ir import AggCall as _A, Col as _C

            if (
                isinstance(e, _A)
                and e.fn.lower() in ("first", "last")
                and not e.distinct
                and 1 <= len(e.args) <= 2
            ):
                fn2 = "min_by" if e.fn.lower() == "first" else "max_by"
                order = e.args[1] if len(e.args) == 2 else _C(ts_col)
                return _A(fn2, (e.args[0], order))
            return e

        from .plans.ir import AggCall as _AggCall, transform as _transform

        def _has_fl(ex) -> bool:
            return any(
                isinstance(n, _AggCall) and n.fn.lower() in ("first", "last")
                for n in ex.walk()
            )

        if any(_has_fl(it.expr) for it in spec.aggregates) or (
            spec.having is not None and _has_fl(spec.having)
        ):
            import dataclasses as _dc

            from .plans.ir import SelectItem as _SI

            spec = _dc.replace(
                spec,
                aggregates=tuple(
                    _SI(it.name, _transform(it.expr, _fl)) for it in spec.aggregates
                ),
                having=(
                    _transform(spec.having, _fl) if spec.having is not None else None
                ),
            )

        # source: one table, or a left-deep star join (fact first, then
        # INNER/LEFT equi-joined dims). Refresh correctness contract: the
        # fact table (the one carrying the temporal column) is append-only;
        # every other joined table is STATIC between runs — the same
        # assumption TimescaleDB continuous aggregates make for joins.
        tables = list(spec.tables or (spec.table,))
        frames = {t: self.spark.table(t) for t in tables}
        # USING joins deliberately share the key columns: they merge into
        # ONE output column (Spark's name-list join), so they're excluded
        # from the dim side of the ambiguity check and the joined schema.
        using_by_table = {
            js.table: set(js.using) for js in spec.join_steps if js.using
        }
        for js in spec.join_steps:
            # casefolded membership: parser lowercases USING keys, Spark
            # resolves them case-insensitively (r15 advice)
            fr_lower = {c.lower() for c in frames[js.table].columns}
            for u in js.using:
                if u not in fr_lower:
                    raise Unsupported(
                        f"USING column {u} missing from {js.table}"
                    )
        if len(frames) > 1:
            seen_cols: Dict[str, str] = {}
            for t in tables:
                for c in frames[t].columns:
                    if c.lower() in using_by_table.get(t, ()):
                        continue  # merges into the left side's column
                    if c in seen_cols:
                        raise Unsupported(
                            f"ambiguous column {c} (in {seen_cols[c]} and {t})"
                        )
                    seen_cols[c] = t
        for step in spec.join_steps:
            jc = classify(step.on, cfg.temporal_columns) if step.on else None
            if jc is not None and jc.verdict is not Verdict.STABLE:
                raise Unsupported(f"join condition not stable: {jc.reason}")
        if ts_col not in frames[tables[0]].columns:
            raise Unsupported(
                f"temporal column {ts_col} must be on the fact table {tables[0]}"
            )

        # The joined-source schema is the concatenation of the per-table
        # schemas (unique names enforced above; joins don't retype fields),
        # so it composes WITHOUT building the join. The joined DataFrame
        # itself is built lazily: the nano and lite tiers never need the
        # DataFrame form (lite names the tables in its own FROM clause), so
        # a standing driver-tier refresh skips ~70 py4j calls of join
        # rebuilding per run.
        from pyspark.sql.types import StructType as _StructType

        base_schema = _StructType(
            [
                f
                for t in tables
                for f in frames[t].schema.fields
                if f.name.lower() not in using_by_table.get(t, ())
            ]
        )
        base_cols = {f.name for f in base_schema.fields}
        _base_built: List[DataFrame] = []

        def get_base() -> DataFrame:
            if not _base_built:
                b = frames[tables[0]]
                for step in spec.join_steps:
                    if step.using:
                        b = b.join(
                            frames[step.table], list(step.using), step.how
                        )
                    elif step.on is not None:
                        b = b.join(
                            frames[step.table], to_column(step.on), step.how
                        )
                    else:
                        b = b.crossJoin(frames[step.table])
                if using_by_table:
                    # Spark's name-list join moves the merged key columns
                    # to the FRONT — restore the declared-schema order
                    b = b.select(*[f.name for f in base_schema.fields])
                _base_built.append(b)
            return _base_built[0]

        # state group-by: the query's groups, plus a synthetic time bucket
        # when a dynamic bound needs one and the query itself has none
        bucket_gran = tgb.granularity if tgb else cfg.dynamic_granularity
        bucket_name = tgb.output_name if tgb else "__qc_bucket"
        state_group = list(spec.group_by)
        if dyn_bound is not None and tgb is None:
            from .plans.ir import Func as _Func, SelectItem as _SelectItem

            state_group.append(
                _SelectItem(
                    bucket_name,
                    _Func("date_trunc", (Lit(bucket_gran, "VARCHAR"), Col(ts_col))),
                )
            )

        plan_inputs = list(spec.aggregates)
        if spec.having is not None:
            from .plans.ir import SelectItem as _SelectItem

            plan_inputs.append(_SelectItem("__qc_having", spec.having))
        # schema-aware: decimal sum/avg get typed state (pinned at
        # decimal(38,s), finalize cast to Spark's exact output type);
        # composite expressions over decimal columns stay passthrough.
        # Keyed on the spec's CANONICAL form, not the query string: one SQL
        # string can carry several distinct specs (UNION branches), and a
        # string key would silently reuse branch 1's plans for branch 2.
        # HAVING participates explicitly — spec.canon() excludes it, but
        # plan_inputs embeds the compiled __qc_having item, so two specs
        # differing only in the HAVING expression must NOT share plans
        # (r11 find: a query with two EXISTS inners differing only in the
        # HAVING literal folded both to the first's verdict).
        apx_eps = (
            cfg.approx_percentile_eps
            if getattr(cfg, "approx_percentile_sketch", False)
            else None
        )
        pkey = (
            spec.canon(),
            spec.having.canon() if spec.having is not None else "",
            base_schema.simpleString(),
            apx_eps,
        )
        plans = self._plan_cache.get(pkey)
        if plans is None:
            plans = plan_items(tuple(plan_inputs), base_schema, apx_eps)
            if len(self._plan_cache) >= self._MEMO_MAX:
                self._plan_cache.clear()
            self._plan_cache[pkey] = plans

        # fingerprint = canonical IR + resolved source schema — the analogue
        # of plan.display_indent_schema() (``src/aggregate.rs:89``): schema
        # participates so a schema change invalidates the entry. For dynamic
        # bounds the fingerprint deliberately EXCLUDES the bound expression:
        # state is bound-independent, so `> now()-1h` and `> now()-7d` share
        # one entry.
        from .plans.ir import canon_predicate

        gb = ";".join(f"{s.name}={s.expr.canon()}" for s in state_group)
        ag = ";".join(f"{s.name}={s.expr.canon()}" for s in spec.aggregates)
        pred_c = canon_predicate(state_pred_expr)
        hav = f"|having={spec.having.canon()}" if spec.having is not None else ""
        # join steps carry the ON condition and join type — two queries over
        # the same tables differing only in the join shape must NOT collide
        # on one cache entry.
        js = ";".join(j.canon() for j in spec.join_steps)
        joins = f"|joins=[{js}]" if spec.join_steps else ""
        fingerprint = (
            f"Aggregate[table={','.join(tables)}{joins}|where={pred_c}"
            f"|group=[{gb}]|agg=[{ag}]]"
            f"{hav}|ts={ts_col}"
            f"{'|dynamic_state=' + bucket_gran if dyn_bound is not None else ''}"
            f"|schema={base_schema.simpleString()}"
            f"|tz={self._session_tz()}"
        )
        if apx_eps is not None and (
            "approx_percentile(" in ag + hav or "percentile_approx(" in ag + hav
        ):
            # sketch bin layout is a function of eps — entries never mix
            # bins quantized at different accuracies
            fingerprint += f"|apx_eps={apx_eps}"

        # post-finalize shape for the result-memo key: the fingerprint
        # deliberately excludes select order / ORDER BY / LIMIT (they sit
        # above the cached state), so the memo must carry them itself
        post_key = (
            spec.select_order,
            tuple(
                (o.expr.canon(), o.desc, o.nulls_first)
                for o in spec.order_by
            ),
            spec.limit,
            spec.offset,
        )
        now_ns = self._now_ns()

        def memo_wm(wm_ns):
            """Result-memo wm-key of a result as-of state watermark
            ``wm_ns``: a dynamic bound is a pure function of the pinned
            now, so (watermark, now) determines it exactly."""
            return ("dyn", wm_ns, now_ns) if dyn_bound is not None else wm_ns

        entry = cfg.cache.entry(fingerprint)
        # temporal bucket key in the state schema (the date_trunc group-by
        # output, or the __qc_bucket column dynamic-bound state is kept at):
        # file-backed stores lay BIG state (past the driver-collect cap) out
        # partitionBy(bucket) — one write task per live bucket instead of the
        # coalesce(1) single-task store, and temporally-bounded warm reads
        # prune whole bucket directories.
        if tgb is not None or dyn_bound is not None:
            entry.bucket_col = bucket_name
        # dynamic-bound evaluation (value, bucket, epochs) — computed at
        # most once per query, and ONLY by the classic dyn assembly below
        # (the lite tier renders the bound as SQL and never evaluates it
        # driver-side)
        dyn_eval = None

        # percentile/median histogram state guard (VERDICT r2 item 7): the
        # state is O(distinct values) per group — arm the store-time cap, and
        # short-circuit fingerprints that already tripped it this session.
        if any(p.histogram_states for p in plans):
            if fingerprint in self._hist_denied:
                raise Unsupported(
                    "exact percentile state previously exceeded "
                    f"percentile_max_distinct={cfg.percentile_max_distinct}"
                )
            entry.hist_cap = cfg.percentile_max_distinct

        # exact count(DISTINCT) set-state guard (r4/r5 ADVICE): same
        # O(distinct)/group growth risk, same store-time cap + session-wide
        # denial on trip — approx_count_distinct is the unbounded path.
        if any(getattr(p, "set_states", None) for p in plans):
            if fingerprint in self._hist_denied:
                raise Unsupported(
                    "count(DISTINCT) set state previously exceeded "
                    f"distinct_max_values={cfg.distinct_max_values}"
                )
            entry.set_cap = cfg.distinct_max_values

        # group/predicate Columns are pure functions of the query shape —
        # memoize the py4j-built handles alongside the aggregate plans so a
        # standing refresh doesn't recompile ~100 expressions per run
        # (Columns are immutable and DataFrame-independent, so reuse is safe)
        cols_memo = self._col_cache.get(pkey)
        if cols_memo is None:
            cols_memo = (
                [to_column(g.expr).alias(g.name) for g in state_group],
                to_column(state_pred_expr)
                if state_pred_expr is not None
                else None,
            )
            if len(self._col_cache) >= self._MEMO_MAX:
                self._col_cache.clear()
            self._col_cache[pkey] = cols_memo
        group_partial, pred = cols_memo
        group_names = [g.name for g in state_group]
        partial_aggs: Dict[str, Column] = {}
        merge_aggs: Dict[str, Column] = {}
        for p in plans:
            partial_aggs.update(p.partial)
            merge_aggs.update(p.merge)
        state_cols = group_names + list(partial_aggs.keys())

        # trust-but-verify hook (``audit()``): remember what a bucket-level
        # recompute of this entry needs. Columns are DataFrame-independent
        # py4j handles, safe to reuse across runs within this session.
        if len(self._audit_info) >= self._MEMO_MAX:
            self._audit_info.clear()
        self._audit_info[fingerprint] = {
            "tables": tables,
            "spec": spec,
            "state_group": state_group,
            "pred": pred,
            "ts_col": ts_col,
            "plans": plans,
            "group_names": group_names,
            "partial_aggs": partial_aggs,
            "merge_aggs": merge_aggs,
        }

        decision = Decision(
            sql=query, cached=True, fingerprint=fingerprint, now_ns=now_ns
        )

        hist_values: Dict[str, Column] = {}
        for p in plans:
            hist_values.update(getattr(p, "histogram_values", {}) or {})

        def partial_agg(df: DataFrame) -> DataFrame:
            extra_keys = []
            if cfg.salt_buckets > 0:
                # skew guard (config.salt_buckets): phase 1 shuffles on
                # (keys, salt) so a hot key fans out over salt_buckets
                # tasks; phase 2 merges the per-salt states — the same
                # merge the refresh itself uses, so state is identical by
                # associativity. (The singleton warm path needs no salt:
                # map-side combine already bounds reducer input to one row
                # per key per map task.)
                salt = (F.rand(seed=42) * cfg.salt_buckets).cast("int")
                extra_keys.append(salt.alias("__qc_salt"))
            hv_names = []
            if hist_values:
                # histogram big-scan guard (r17): the expression-level
                # collect_list partial buffers O(rows-per-group) in
                # flight — a 100M-row hot group OOMs the executor even
                # though the STORED state compacts to O(distinct)
                # (Spark's own Percentile keeps an O(distinct) counts
                # map). Phase 1 therefore also groups by each histogram
                # VALUE column (subgroup count = the RLE entry count)
                # and phase 2 builds the arrays from O(distinct
                # value-combinations) rows; every other aggregate's
                # phase-1 partial re-combines with its own MERGE — the
                # same associativity the refresh itself relies on.
                # Duplicate-v entries from multi-histogram cross terms
                # are legal (the percentile walk is a multiset fold).
                for i, (nm, hv) in enumerate(sorted(hist_values.items())):
                    hvn = f"__qc_hv{i}"
                    hv_names.append((nm, hvn))
                    extra_keys.append(hv.alias(hvn))
            if not extra_keys:
                return df.groupBy(*group_partial).agg(
                    *[c.alias(n) for n, c in partial_aggs.items()]
                )
            hist_names = {nm for nm, _ in hv_names}
            p1_aggs = [
                c.alias(n)
                for n, c in partial_aggs.items()
                if n not in hist_names
            ] + [
                # count over the VALUE EXPRESSION, not the grouping
                # alias — an alias reference inside an aggregate is a
                # lateral-alias error; the expression is functionally
                # equal within the subgroup (it IS the group key)
                F.count(hist_values[nm]).alias(f"__qc_hc{i}")
                for i, (nm, _hvn) in enumerate(hv_names)
            ]
            p1 = df.groupBy(*group_partial, *extra_keys).agg(*p1_aggs)
            p2_aggs = [
                c.alias(n)
                for n, c in merge_aggs.items()
                if n not in hist_names
            ] + [
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col(f"__qc_hc{i}") > 0,
                            F.struct(
                                F.col(hvn).alias("v"),
                                F.col(f"__qc_hc{i}")
                                .cast("long")
                                .alias("c"),
                            ),
                        )
                    )
                ).alias(nm)
                for i, (nm, hvn) in enumerate(hv_names)
            ]
            return p1.groupBy(*[F.col(n) for n in group_names]).agg(
                *p2_aggs
            )

        shadow = f"{ts_col}_ns"
        pc_col = cfg.temporal_partition_columns.get(ts_col)
        pc_arg = pc_col if (pc_col and pc_col in base_cols) else None

        def time_bounds(
            df: DataFrame,
            lo_ns: Optional[int] = None,
            hi_ns: Optional[int] = None,
            pred: Optional[Column] = None,
            extra: Sequence[Column] = (),
        ) -> DataFrame:
            """[lo, hi) scan bounds on the temporal column, with ``pred``
            and ``extra`` in the same ONE filter.

            Every state scan is upper-bounded by `ts < now` — an improvement
            over the reference (SURVEY §4.4.2: its state has no upper bound,
            so rows time-stamped beyond "now" at run 1 would double-count on
            refresh). With the bound, state_N covers exactly ts < now_N and
            fresh_{N+1} covers [now_N, now_{N+1}) — an exact partition, so
            results are "as of now" and the µs boundary can never dupe.

            Bounds via ``_push_time_bounds``: exact on the epoch-ns shadow,
            plus a redundant µs bound on the timestamp column itself so the
            filter reaches the parquet scan's ``PushedFilters`` even when
            the shadow is a derived column (µs/NTZ sources), plus the
            date-partition bounds (config.temporal_partition_columns).
            The bounds, the caller's predicate and ``extra`` form one
            conjunction, so each scan pays one eagerly analyzed ``.filter``
            instead of up to seven (perfbench ``big_state``
            ``refresh_vs_plain``, see :meth:`_warm_merge`).
            """
            return _push_time_bounds(
                df, ts_col, shadow, lo_ns, hi_ns, pred, extra, pc_arg
            )

        hit = entry.occupied
        state_is_local = False
        cached_state = None
        # the gates the nano/lite programs share, warm or cold
        driver_tiers_ok = (
            not spec.grouping_sets
            and spec.offset is None  # pagination: classic path only
            and not cfg.salt_buckets  # salted program is classic-only
            # data-watermark mode needs the max-ts job the driver tiers
            # don't carry: classic path only
            and cfg.watermark_mode == "now"
        )

        def run_nano(state_frame: DataFrame, wm_ns: Optional[int]):
            """The nano rung of the tier ladder (driver pyarrow scan of a
            bytes-gated registered source, no Spark job), shared by the
            warm refresh (``state_frame`` = the stored state) and the cold
            load (``wm_ns=None``: no stored state, no lower scan bound;
            ``state_frame`` = the frame the classic miss would store).
            Returns the result, or None → the caller's next tier."""
            if not self._nano_sources_ok(fingerprint, frames):
                return None
            tpl = self._nano_template(
                pkey, fingerprint, spec, plans, state_group, group_names,
                state_cols, merge_aggs, state_frame, tables, ts_col,
                state_pred_expr, dyn_bound, bucket_name, bucket_gran,
            )
            if tpl is None:
                return None
            return self._run_nano(
                tpl, entry, state_frame, wm_ns, now_ns,
                dyn_bound.rhs if dyn_bound is not None else None,
                decision, spec,
            )

        def data_scan_wm(lo_ns: Optional[int]):
            """``watermark_mode='data'``: collect max event time over
            ``[lo, now)`` FIRST, then bound the state scan by
            ``hi = max+1`` — the exact watermark that will be stored. The
            max job and the store job are separate Spark jobs; scanning to
            ``now`` while storing ``max+1`` would let a row landing between
            the jobs (event time above the collected max) be folded into
            state AND re-merged by the next refresh — permanent double
            counting (ADVICE r3, medium). Returns
            ``(scan_hi_ns, store_wm_ns)``; in "now" mode both are query
            time and no extra job runs."""
            if cfg.watermark_mode != "data":
                return now_ns, now_ns
            mxdf = time_bounds(get_base(), lo_ns, now_ns, pred)
            if shadow in base_cols:
                mxc = F.max(F.col(shadow))
            else:
                mxc = F.max(
                    F.unix_micros(F.col(ts_col).cast("timestamp")) * F.lit(1000)
                )
            mx = mxdf.agg(mxc.alias("mx")).collect()[0]["mx"]
            if mx is not None:
                wm = int(mx) + 1
            elif lo_ns is not None:
                wm = lo_ns  # empty window: watermark unchanged
            else:
                wm = 0  # empty source: everything is still fresh
            return wm, wm

        def _local_state():
            # small state as a LOCAL relation: no file-scan stage, state
            # ships to executors with the task closure (one row per group)
            nonlocal cached_state, state_is_local
            state_tbl = entry.get_arrow()
            if state_tbl is not None:
                cached_state = arrow_to_spark(self.spark, state_tbl)
                state_is_local = True
            else:
                cached_state = entry.get(self.spark)

        if hit:
            try:
                st_cols = entry.state_columns()
                if st_cols is None:
                    _local_state()
                    st_cols = cached_state.columns
                if set(st_cols) != set(state_cols):
                    # schema contract violated (engine upgrade / hash
                    # collision): recompute rather than corrupt results.
                    cfg.log.warn(
                        fingerprint, "cached state schema mismatch; recomputing"
                    )
                    hit = False
                elif not entry.verify_state_files():
                    # hot reads / file-backed warm state scan the state
                    # parquet LAZILY (the result df, or the refresh job);
                    # a corrupt part must self-heal at plan time, not as
                    # the caller's read error. Aggregate state is usually
                    # one coalesced file — a single ~1 KB footer read.
                    cfg.log.warn(
                        fingerprint, "cached state failed integrity check; recomputing"
                    )
                    hit = False
            except Exception as e:  # unreadable state → self-heal as a miss
                cfg.log.warn(fingerprint, f"cached state unreadable ({e}); recomputing")
                hit = False

        store_wm_ns = now_ns  # overridden per-branch by data_scan_wm
        cold_res = None  # a miss served by run_nano
        # the old watermark's bucket, once computed; tail_only: the warm
        # merge was built over the state's buckets >= tail_lo only, so its
        # rows are NOT the whole merged state
        tail_lo = tail_tag = None
        tail_only = False
        wm0 = entry.watermark_ns if hit else None
        if hit and wm0 is not None and (
            now_ns <= wm0
            # bounded-staleness policy: within the refresh interval, serve
            # as-of the stored watermark (config.min_refresh_interval_ns).
            # Not applied to dynamic-bound queries: their finalize
            # recomputes the boundary bucket from raw rows as-of now, which
            # would mix freshness horizons.
            or (dyn_bound is None and now_ns - wm0 < cfg.min_refresh_interval_ns)
        ):
            # hot read: the refresh window [wm, now) is provably empty (or
            # waived by the staleness policy), so the stored state already
            # answers — no scan, no store-back, one tiny local job.
            # (Queries re-run faster than data arrives — the reference's
            # repeated-dashboard case — pay only the state read.)
            # A now BELOW the watermark (only possible via the
            # override_now_ns replay knob; wall clocks are monotone) lands
            # here too and serves as-of the WATERMARK, not the regressed
            # now — the cache never time-travels backwards. The reference
            # behaves the same but coarser: its cached reads are always
            # as-of store time (no upper bound at all, SURVEY §4.4.2).
            decision.cache_hit = True
            decision.watermark_ns = entry.watermark_ns
            # dynamic results depend on the pinned now too (a repeat at
            # the same now has the same boundary; an earlier now would pick
            # a different lower and must NOT serve the memo) — the memo key
            # carries (state watermark, now), which determines the bound
            memo = self._memo_get(fingerprint, memo_wm(wm0), post_key)
            if memo is not None:
                # this session already finalized a result at this exact
                # watermark: same state, same pure finalize → same rows.
                decision.served_from_memo = True
                cfg.log.info(fingerprint, "cache hit: result memo (no Spark work)")
                return memo, decision
            cfg.log.info(fingerprint, "cache hit: fresh window empty, serving state")
            merged = None
            if cached_state is None:
                _local_state()
            hot_state = cached_state
        elif hit:
            wm_ns = entry.watermark_ns
            if cached_state is None:
                rows = entry.state_rows()
                cap = getattr(entry, "DRIVER_COLLECT_MAX_ROWS", 500_000)
                if rows is not None and rows > cap and entry.bucket_col:
                    # big bucketed state, which no driver tier admits: merge
                    # the fresh rows into the tail its store keeps, read
                    # from the layers reaching the old watermark's bucket
                    if dyn_bound is not None:
                        dyn_eval = self._eval_bound_and_bucket(
                            dyn_bound.rhs, now_ns, bucket_gran, wm_ns
                        )
                    try:
                        tail_lo = (
                            dyn_eval[5]
                            if dyn_eval is not None
                            else self._wm_bucket_value(wm_ns, bucket_gran)
                        )
                        tail_tag = entry.state_tag()
                        cached_state = entry.tail_state_df(self.spark, tail_lo)
                    except Exception as e:
                        if self._strict_errors():
                            raise
                        cfg.log.warn(
                            fingerprint, f"tail state read failed ({e}); full read"
                        )
                    tail_only = cached_state is not None
            if cached_state is None:
                # warm refresh: prefer the FILE-BACKED state form — the
                # refresh job's executors read the tiny state parquet
                # directly instead of the driver re-uploading it through
                # py4j on every refresh (~0.1 s/refresh saved)
                sdf = entry.state_df(self.spark)
                if sdf is not None:
                    cached_state = sdf
                    # driver-tier gate: same small-state contract get_arrow had
                    state_is_local = rows is not None and rows <= cap
                else:
                    _local_state()
            if state_is_local and driver_tiers_ok:
                # tier ladder: nano (driver pyarrow scan, bytes-gated) →
                # lite (one plain-sized job + driver merge) → the classic
                # DataFrame program below; each falls through on
                # inadmission, overflow or failure
                res = run_nano(cached_state, wm_ns)
                if res is None:
                    ltpl = self._lite_template(
                        pkey, fingerprint, spec, plans, state_group,
                        group_names, state_cols, partial_aggs, merge_aggs,
                        pred, ts_col, shadow in base_cols, pc_arg,
                        cached_state.schema, tables, dyn_bound, bucket_name,
                        bucket_gran,
                    )
                    if ltpl is not None:
                        res = self._run_lite(
                            ltpl, entry, cached_state, wm_ns, now_ns,
                            dyn_bound.rhs if dyn_bound is not None else None,
                            decision, spec,
                        )
                if res is not None:
                    decision.cache_hit = True
                    decision.watermark_ns = wm_ns
                    cfg.log.info(
                        fingerprint,
                        f"cache hit: incremental refresh from watermark {wm_ns}",
                    )
                    # entry watermark is now now_ns: memo for hot re-reads
                    self._memo_result(fingerprint, memo_wm(now_ns), res, post_key)
                    return res, decision
                # a driver tier that failed late may have set these; the
                # classic program reports its own
                decision.fresh_rows_value = None
                decision.dynamic_lower = None
            scan_hi, store_wm_ns = data_scan_wm(wm_ns)
            merged, obs = self._warm_merge(
                cached_state, wm_ns, scan_hi, get_base(), pred, time_bounds,
                plans, state_group, group_names, merge_aggs, partial_agg,
            )
            decision.cache_hit = True
            decision.refresh_tier = "classic"
            decision.watermark_ns = wm_ns
            decision.observation = obs
            cfg.log.info(
                fingerprint, f"cache hit: incremental refresh from watermark {wm_ns}"
            )
        else:
            donor = None
            if tgb is not None and not spec.grouping_sets and dyn_bound is None:
                donor = self._find_agg_donor(
                    spec, tgb, ts_col, fingerprint, now_ns,
                    state_cols, group_names, state_group,
                )
            if donor is not None:
                # SEMANTIC HIT (bucket coarsening): a FINER-bucketed entry
                # for the same query (e.g. hourly state for this daily
                # query) is re-truncated to this granularity and merged —
                # valid because date_trunc(coarse, date_trunc(fine, ts)) ==
                # date_trunc(coarse, ts) when fine nests into coarse, and
                # the merge is associative. Scans only [donor_wm, now):
                # a first-time daily dashboard pays O(new data), the
                # TimescaleDB continuous-aggregate rollup-reuse trick.
                d_state, d_wm, d_fp = donor
                scan_hi, store_wm_ns = data_scan_wm(d_wm)
                merged, obs = self._warm_merge(
                    d_state, d_wm, scan_hi, get_base(), pred, time_bounds,
                    plans, state_group, group_names, merge_aggs, partial_agg,
                )
                decision.cache_hit = True
                decision.semantic_donor = d_fp
                decision.watermark_ns = d_wm
                decision.observation = obs
                cfg.log.info(
                    fingerprint,
                    f"semantic hit: coarsened finer-bucket state from {d_fp}; "
                    f"scanned only rows since {d_wm}",
                )
            else:
                scan_hi, store_wm_ns = data_scan_wm(None)
                merged = partial_agg(
                    time_bounds(get_base(), hi_ns=scan_hi, pred=pred)
                )
                if (
                    # pure-Python gates: a plain temp view pays no py4j
                    # call and no program build
                    tables[0] in LOCAL_PARQUET_SOURCES
                    and cfg.nano_refresh_max_bytes
                    and driver_tiers_ok
                ):
                    # typed by the frame the classic miss would store
                    # (analysis only): the stored state schema is exactly
                    # a classic cold load's
                    cold_res = run_nano(merged, None)
                if cold_res is None:
                    cfg.log.info(fingerprint, "cache miss: computing and storing state")
                else:
                    cfg.log.info(
                        fingerprint,
                        "cache miss: state computed on the driver (nano)",
                    )

        if (
            tgb is not None
            and not spec.grouping_sets
            and dyn_bound is None
            and fingerprint not in self._agg_registry
        ):
            # durable donor index for bucket-coarsening subsumption
            self._agg_registry.add(fingerprint)
            try:
                import json as _json

                from .plans.ir import ir_to_json

                cfg.cache.put_tag(
                    fingerprint,
                    "agg_spec",
                    _json.dumps(
                        {
                            "spec": ir_to_json(spec),
                            "ts_col": ts_col,
                            # bucket values (date_trunc) are tz-dependent:
                            # a donor built under another session timezone
                            # must never be re-truncated here (same class
                            # as the r12 |tz= fingerprint fix, applied to
                            # the coarsening-donor path)
                            "tz": self._session_tz(),
                        }
                    ),
                )
            except Exception:
                pass

        if cold_res is not None:
            self._memo_result(fingerprint, memo_wm(now_ns), cold_res, post_key)
            return cold_res, decision

        # watermark to STORE: query time ("now" mode, reference behavior) or
        # max-event-time-seen + 1 ("data" mode, late-data safety — SURVEY §7
        # hard-part 3), set by data_scan_wm ABOVE the state scan so the scan
        # is bounded by the stored watermark (hot reads store nothing).

        # Fused fast path (simple shapes): ONE job computes state AND final
        # columns together; the state is stored from the collected Arrow
        # table (no second scan) and the result is finished driver-side —
        # including the ORDER BY, which as a Spark global sort on a local
        # relation would cost a range-partitioner sampling pass + shuffle.
        if (
            not spec.grouping_sets
            and dyn_bound is None
            and spec.offset is None
            # over-cap state: put_split would decline the driver collect
            and not tail_only
        ):
            fused = self._finalize_fused(
                entry,
                merged,
                None if merged is not None else (hot_state if state_is_local else None),
                plans,
                spec,
                state_cols,
                store_wm_ns,
                decision,
            )
            if fused is not None:
                # warm refresh advanced the watermark to store_wm_ns; a hot
                # read served state as-of the existing watermark
                self._memo_result(
                    fingerprint,
                    store_wm_ns if merged is not None else decision.watermark_ns,
                    fused,
                    post_key,
                )
                return fused, decision

        # store-back (reference always wraps in CacheUpdateAggregateExec so
        # run 1 populates and run N refreshes, ``src/aggregate.rs:399``); we
        # store *merged* (compacted) state — SURVEY §3.3 improvement — and
        # finalize from the stored copy so the source is scanned exactly once.
        # (hot reads — empty refresh window — skip the store entirely.)
        if merged is not None:
            self.last_refresh_df = merged
        stored = None
        topk_lay = None  # set when a layered refresh may take _bucket_topk
        tail_wm = (
            decision.watermark_ns
            if merged is not None
            and decision.cache_hit
            and decision.semantic_donor is None
            and entry.bucket_col
            else None
        )
        if dyn_bound is not None and dyn_eval is None:
            # evaluate the bound once at plan time (reference captures "now"
            # the same way, ``src/aggregate.rs:375-382``) — in the same
            # one-row job as the old watermark's bucket the tail store needs
            dyn_eval = self._eval_bound_and_bucket(
                dyn_bound.rhs, now_ns, bucket_gran, tail_wm
            )

        def boundary_raw(bucket_dtype: str) -> DataFrame:
            """Raw rows of the boundary bucket past the evaluated bound, as
            of now. The bound's and bucket-end's epoch-µs forms come
            straight from _eval_bound_and_bucket (SESSION timezone, no DST
            slack: the bucket end is date_trunc + INTERVAL). The scan's hi
            bound is the boundary BUCKET's end, not now — every boundary
            row satisfies ts < bucket_end, so capping the scan there prunes
            the (window - 1 bucket) tail the non-pushable date_trunc
            equality would otherwise read and discard."""
            lower, boundary, lower_us, _, be_us, _ = dyn_eval
            cmp_op = (
                (F.col(ts_col) > F.lit(lower))
                if dyn_bound.op == ">"
                else (F.col(ts_col) >= F.lit(lower))
            )
            hi_eff = now_ns if be_us is None else min(now_ns, be_us * 1000)
            in_bucket = F.date_trunc(bucket_gran, F.col(ts_col)).cast(
                bucket_dtype
            ) == F.lit(boundary).cast(bucket_dtype)
            return time_bounds(
                get_base(), lower_us * 1000, hi_eff, pred, [cmp_op & in_bucket]
            )

        def boundary_partial(bucket_dtype: str) -> DataFrame:
            """The boundary bucket's partial state (the bucket is a group
            key). partial_agg (not an inline groupBy) so the histogram
            two-phase and salt guards apply to it too."""
            return partial_agg(boundary_raw(bucket_dtype))
        if tail_wm is not None:
            # big-state warm refresh on this entry's own watermark: store
            # only the changed-bucket TAIL as a new layer (fresh rows have
            # ts >= wm, so only buckets >= trunc(wm) changed) — the write
            # is O(changed buckets), not O(full state). Inapplicable cases
            # (small state, layer cap reached → compaction) return None
            # and the full put below runs.
            try:
                rows0 = entry.state_rows()
                cap0 = getattr(entry, "DRIVER_COLLECT_MAX_ROWS", 500_000)
                if rows0 is not None and rows0 > cap0:
                    # the OLD watermark truncated to its bucket (computed
                    # before the merge unless that attempt failed)
                    lo_val = (
                        tail_lo
                        if tail_lo is not None
                        else self._wm_bucket_value(tail_wm, bucket_gran)
                    )
                    if dyn_bound is not None:
                        topk_lay = self._bucket_topk_layout(
                            spec, tgb, plans, entry, fingerprint
                        )
                    tag0 = entry.state_tag()
                    stored = entry.put_bucket_tail(
                        store_wm_ns, merged, lo_val, self.spark,
                        fin_cols=topk_lay["fin_cols"] if topk_lay else None,
                        # the boundary bucket's recompute rides the tail
                        # collect: one job for both
                        ride=(
                            boundary_partial(topk_lay["bucket_dtype"])
                            if topk_lay
                            else None
                        ),
                    )
                    if stored is not None:
                        cfg.log.info(
                            fingerprint,
                            f"store-back: bucket-tail layer >= {lo_val} "
                            "(O(changed buckets) write)",
                        )
            except Exception as e:
                cfg.log.warn(
                    fingerprint, f"bucket-tail store failed ({e}); full store"
                )
                stored = None
        if topk_lay is not None and stored is not None:
            try:
                res = self._bucket_topk(
                    topk_lay, stored, entry, tag0, lo_val, dyn_eval, merged,
                    bucket_name, bucket_gran, fingerprint, post_key,
                )
            except StateCardinalityExceeded:
                raise
            except Exception as e:
                if self._strict_errors():
                    raise
                self._topk_summaries.pop((fingerprint, post_key), None)
                cfg.log.warn(
                    fingerprint, f"bucket top-k failed ({e}); classic finalize"
                )
                res = None
            if res is not None:
                decision.refresh_tier = "bucket_topk"
                decision.dynamic_lower = dyn_eval[0]
                self._memo_result(
                    fingerprint, memo_wm(store_wm_ns), res, post_key
                )
                return res, decision
            if not isinstance(stored, DataFrame):
                stored = entry.get(self.spark)  # the tail collect's table
        if stored is None and tail_only:
            # the tail store declined (the full put compacts) or failed,
            # and `merged` holds only the tail: never store it as the
            # whole state
            if entry.state_tag() != tail_tag:
                stored = entry.get(self.spark)  # the tail write committed
            else:
                merged, decision.observation = self._warm_merge(
                    entry.state_df(self.spark), wm_ns, scan_hi, get_base(),
                    pred, time_bounds, plans, state_group, group_names,
                    merge_aggs, partial_agg,
                )
                self.last_refresh_df = merged
        if stored is None:
            stored = (
                hot_state
                if merged is None
                else entry.put(store_wm_ns, merged, self.spark)
            )

        if spec.grouping_sets:
            # ROLLUP/CUBE/GROUPING SETS: state is kept at the FINEST
            # granularity (all group keys); each grouping set is a
            # re-aggregation of that state (merge associativity — the same
            # law the refresh relies on), with the absent keys as typed
            # NULLs. The union reproduces Spark's rollup output exactly,
            # including the natural-NULL-vs-subtotal row pair.
            if dyn_bound is not None:
                raise Unsupported("grouping sets with a dynamic bound")
            def grouping_flag_cols(st_idx):
                """grouping()/grouping_id() are pure functions of WHICH set a
                row came from — emit them as typed literals per part
                (tinyint / bigint, matching Spark's native output types)."""
                cols = []
                for item in spec.grouping_fn_items:
                    args = item.expr.args or tuple(
                        g.expr for g in spec.group_by
                    )  # grouping_id() with no args = all keys

                    def flag(arg) -> int:
                        for i, g in enumerate(spec.group_by):
                            if g.expr == arg or (
                                isinstance(arg, Col) and arg.name == g.name
                            ):
                                return 0 if i in st_idx else 1
                        raise Unsupported("grouping() argument not a group key")

                    if item.expr.name.lower() == "grouping":
                        cols.append(
                            F.lit(flag(args[0])).cast("tinyint").alias(item.name)
                        )
                    else:
                        gid = 0
                        for arg in args:
                            gid = gid * 2 + flag(arg)
                        cols.append(F.lit(gid).cast("bigint").alias(item.name))
                return cols

            dt_map = dict(stored.dtypes)
            parts = []
            for st_idx in spec.grouping_sets:
                keys = [group_names[i] for i in st_idx]
                gagg = stored.groupBy(*[F.col(k) for k in keys]).agg(
                    *[c.alias(n) for n, c in merge_aggs.items()]
                )
                sel = (
                    [F.col(k) for k in keys]
                    + [
                        F.lit(None).cast(dt_map[n]).alias(n)
                        for n in group_names
                        if n not in keys
                    ]
                    + [F.col(n) for n in merge_aggs]
                    + grouping_flag_cols(st_idx)
                )
                parts.append(gagg.select(*sel))
            acc = parts[0]
            for p in parts[1:]:
                acc = acc.unionByName(p)
            stored = acc

        if dyn_bound is not None:
            lower, boundary = dyn_eval[0], dyn_eval[1]
            decision.dynamic_lower = lower
            bucket_dtype = dict(stored.dtypes)[bucket_name]
            boundary_lit = F.lit(boundary).cast(bucket_dtype)
            # full buckets strictly above the boundary come from state; the
            # boundary bucket is recomputed exactly from raw rows with a
            # PUSHABLE range predicate on the temporal column.
            full = stored.filter(F.col(bucket_name) > boundary_lit)
            braw = boundary_raw(bucket_dtype)
            # deep-relax nullability like the warm merge does: set/list
            # states (count(DISTINCT), collect_*) carry containsNull flags
            # Spark infers from the partial aggregate, and a nullable→
            # non-null array cast is refused at analysis
            from .functions.partial import relax_nullability as _relax2

            dtypes2 = {
                f.name: _relax2(f.dataType) for f in stored.schema.fields
            }
            singletons2: Dict[str, Column] = {}
            if tgb is not None:
                # the query groups on the bucket itself (no synthetic
                # bucket): `full` (buckets > boundary, from compacted state)
                # and the boundary recompute are KEY-DISJOINT and each
                # key-complete, so the merge groupBy below would be an
                # identity — skip it. The O(state) rows then flow straight
                # to finalize/TakeOrdered with NO shuffle; only the single
                # boundary bucket's partials shuffle (map-side combined).
                # At 100 TB state this is the difference between shuffling
                # the whole standing state per warm query and shuffling one
                # bucket.
                # partial_agg (not an inline groupBy) so the histogram
                # two-phase and salt guards apply to the boundary bucket
                # too — a hot day at extreme scale is the same O(rows)
                # collect_list hazard the big scan had (r17)
                stored = full.unionByName(partial_agg(braw))
                cfg.log.info(
                    fingerprint,
                    f"dynamic bound: full buckets > {boundary} served "
                    f"merge-free (bucket is a group key), boundary bucket "
                    f"recomputed from raw rows >= {lower}",
                )
            else:
                use_singleton2 = all(p.singleton is not None for p in plans)
                if use_singleton2:
                    for p in plans:
                        singletons2.update(p.singleton)
                    boundary_state = braw.select(
                        *[
                            to_column(g.expr).cast(dtypes2[g.name]).alias(g.name)
                            for g in state_group
                        ],
                        *[
                            c.cast(dtypes2[n]).alias(n)
                            for n, c in singletons2.items()
                        ],
                    )
                else:
                    boundary_state = braw.groupBy(*group_partial).agg(
                        *[c.alias(n) for n, c in partial_aggs.items()]
                    )
                unioned2 = full.unionByName(boundary_state)
                # collapse the synthetic bucket for queries that didn't
                # group on it
                result_groups = [g.name for g in spec.group_by]
                stored = unioned2.groupBy(*[F.col(n) for n in result_groups]).agg(
                    *[c.alias(n) for n, c in merge_aggs.items()]
                )
                cfg.log.info(
                    fingerprint,
                    f"dynamic bound: full buckets > {boundary}, boundary "
                    f"bucket recomputed from raw rows >= {lower}",
                )

        final_select: List[Column] = []
        fin_by_name = {p.name: p.finalize for p in plans}
        for name in spec.select_order:
            if name in fin_by_name:
                final_select.append(fin_by_name[name])
            else:
                final_select.append(F.col(name))
        if spec.having is not None:
            out = (
                stored.select(*final_select, fin_by_name["__qc_having"])
                .filter(F.col("__qc_having"))
                .drop("__qc_having")
            )
        else:
            out = stored.select(*final_select)

        out = self._apply_order_limit(out, spec)
        if (
            spec.limit is not None
            and spec.limit <= getattr(entry, "DRIVER_COLLECT_MAX_ROWS", 500_000)
            and not spec.offset
        ):
            # bounded result: collect it once here, so a hot re-read at the
            # same key is a memo hit with no Spark job (the big_state hot
            # reload). A result without LIMIT stays lazy: no driver collect
            # of an unbounded result.
            wm = store_wm_ns if merged is not None else decision.watermark_ns
            out = self._memo_collect(fingerprint, memo_wm(wm), out, post_key)
        return out, decision

    def _finalize_fused(
        self,
        entry,
        merged: Optional[DataFrame],
        hot_state: Optional[DataFrame],
        plans,
        spec: AggSpec,
        state_cols: List[str],
        now_ns: int,
        decision: Decision,
    ) -> Optional[DataFrame]:
        """Single-job store + finalize for simple aggregate shapes.

        The merged state plan is augmented with the finalize columns and
        collected ONCE via Arrow (inside ``entry.put_split``, which persists
        the state part). HAVING, ORDER BY and LIMIT are then applied to the
        driver-local result — avoiding both the post-store re-read and the
        global-sort exchange a LocalRelation ``orderBy`` would pay. Returns
        None when the fast path doesn't apply (caller falls back)."""
        from pyspark.sql.types import StructType

        layout = self._fused_layout(spec)
        if layout is None:
            return None  # duplicate output aliases: keep the classic path
        out_names, order_names, extra_names = layout
        aug_cols = [F.col(n) for n in state_cols] + self._fin_cols(
            plans, spec, out_names, extra_names
        )

        base_idx = len(state_cols)
        if merged is not None:
            augmented = merged.select(*aug_cols)
            self.last_refresh_df = augmented
            aug_schema = augmented.schema
            state_schema = StructType(aug_schema.fields[:base_idx])
            fresh_cb = (
                decision.fresh_rows if decision.observation is not None else None
            )
            tbl = entry.put_split(
                now_ns, augmented, state_cols, state_schema, self.spark, fresh_cb
            )
            if tbl is None:
                return None
        else:
            if hot_state is None:
                return None
            # hot read: no store-back; the state is already driver-local, so
            # the finalize job runs over a LocalRelation (tiny, no scan).
            augmented = hot_state.select(*aug_cols)
            aug_schema = augmented.schema
            tbl = augmented.toArrow()

        return self._arrow_result(
            tbl, list(aug_schema.fields), base_idx, spec,
            out_names, extra_names, order_names,
        )

    def _bucket_topk_layout(self, spec: AggSpec, tgb, plans, entry, fingerprint):
        """Whether a layered dynamic-bound refresh may finalize through
        :meth:`_bucket_topk`, and if so its layout: the finalize columns
        the tail collect carries and the aug names of the ORDER BY keys.
        None (with the refusal reason logged for a top-k shape) sends the
        refresh down the classic finalize."""
        from pyspark.sql.types import DateType, TimestampType

        if spec.limit is None or not spec.order_by:
            return None  # not a top-k
        why = None
        layout = None
        sch = entry.state_schema()
        btype = (
            sch[tgb.output_name].dataType
            if tgb is not None and sch is not None and tgb.output_name in sch.names
            else None
        )
        if tgb is None:
            why = "the time bucket is not a group key"
        elif not isinstance(btype, (DateType, TimestampType)):
            why = f"bucket type {btype}"
        elif tgb.granularity.lower() not in self._BUCKET_INTERVAL:
            why = f"bucket granularity {tgb.granularity}"
        elif spec.offset or spec.grouping_sets:
            why = "OFFSET or grouping sets"
        elif spec.limit > entry.DRIVER_COLLECT_MAX_ROWS:
            why = "LIMIT over the collect cap"
        elif not self._utc_session_and_driver():
            why = "session or driver time zone is not UTC"
        else:
            try:
                layout = self._fused_layout(spec)
            except Unsupported as e:
                why = str(e)
            if layout is None:
                why = why or "duplicate output names"
            elif not {g.name for g in spec.group_by} <= set(layout[1]):
                why = "ORDER BY is not total over the group keys"
        if why is not None:
            self.config.log.info(
                fingerprint, f"bucket top-k refused: {why}; classic finalize"
            )
            return None
        out_names, order_names, extra_names = layout
        fin_cols = self._fin_cols(plans, spec, out_names, extra_names)
        return {
            "spec": spec,
            "bucket_dtype": "date" if isinstance(btype, DateType) else "timestamp",
            "fin_cols": fin_cols,
            "out": out_names,
            "order": order_names,
            "extra": extra_names,
            # the aug column each ORDER BY key reads
            "order_aug": [
                f"__fin{out_names.index(nm)}" if nm in out_names else f"__ord_{nm}"
                for nm in order_names
            ],
            "fin_names": [f"__fin{i}" for i in range(len(out_names))]
            + [f"__ord_{nm}" for nm in extra_names]
            + (["__fin_hv"] if spec.having is not None else []),
        }

    def _bucket_topk(
        self, lay, tail, entry, tag0, lo_val, dyn_eval, merged, bucket,
        gran, fingerprint, post_key,
    ) -> Optional[DataFrame]:
        """Finalize a layered dynamic-bound top-k on the driver from
        per-bucket top-k summaries: no job over the whole layered state.

        The query groups on its own time bucket and its ORDER BY is total
        over the group keys, so every group lives in one bucket, a bucket
        below the tail bound ``lo`` never changes again, and the top k of
        a union of buckets is the top k of the union of each bucket's own
        top k (HAVING applied before the cut). The session keeps, per
        ``(fingerprint, post)``, each bucket's k best finalized rows above
        the window's boundary bucket, tagged with the entry's
        :meth:`~CacheEntry.state_tag`:

        * after each tail write, the buckets ``>= lo`` are replaced by the
          per-bucket top k of ``tail`` (the driver-collected tail table,
          finalize columns included);
        * missing or stale summaries (another writer, a compaction, a
          window reaching further back) are rebuilt by one Spark job,
          ``row_number() OVER (PARTITION BY bucket ORDER BY …) <= k`` over
          the buckets strictly between the boundary and ``lo``.

        The answer is the top k of the summaries above the boundary plus
        the boundary bucket recomputed from raw rows (rows that rode the
        tail collect, marked ``__qc_ride``), sorted by pyarrow. Returns
        None, with the reason logged, when the tail went to the
        distributed write, the local sort would differ from Spark's (NaN,
        mixed null placements), or k × buckets is over the collect cap;
        the caller then finalizes classically.

        Wins perfbench ``big_state`` ``refresh_vs_plain``: the refresh no
        longer finalizes all ~600k state rows in a Spark job, and runs 2
        jobs instead of 4. Median [quartiles] over 10 interleaved pairs
        (4-core VM): 0.842 [0.823, 0.868] → 0.568 [0.546, 0.608], lower
        in 10/10."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql import Window

        from . import nano

        spec = lay["spec"]
        k = spec.limit
        cap = entry.DRIVER_COLLECT_MAX_ROWS
        key = (fingerprint, post_key)
        log = self.config.log

        def refuse(why: str):
            self._topk_summaries.pop(key, None)
            log.info(fingerprint, f"bucket top-k refused: {why}; classic finalize")
            return None

        if isinstance(tail, DataFrame):
            return refuse("the tail went to the distributed write")
        ride = tail.column("__qc_ride")
        tail = tail.select([bucket] + lay["fin_names"])
        target = pa.schema([f.with_nullable(True) for f in tail.schema])
        tail = tail.cast(target)
        t, bnd = tail.filter(pc.invert(ride)), tail.filter(ride)
        is_date = lay["bucket_dtype"] == "date"
        day_us = 86_400_000_000
        sk = self._arrow_sort_keys(t, spec, lay["order_aug"])
        if sk is None:
            return refuse("NaN or mixed null placements in the ORDER BY keys")
        keys, placement = sk

        def bkeys(tbl):
            """Bucket keys as int64: epoch days (DATE) or epoch µs."""
            c = tbl.column(0)
            return pc.cast(pc.cast(c, pa.int32()) if is_date else c, pa.int64())

        def key_of(us: int) -> int:
            return us // day_us if is_date else us

        def per_bucket_topk(tbl):
            if spec.having is not None:
                tbl = tbl.filter(pc.fill_null(tbl.column("__fin_hv"), False))
            if not tbl.num_rows:
                return tbl
            tbl = tbl.take(
                pc.sort_indices(
                    tbl,
                    sort_keys=[(bucket, "ascending")] + keys,
                    null_placement=placement,
                )
            )
            kb = bkeys(tbl).to_numpy()
            first = np.empty(len(kb), dtype=bool)
            first[0] = True
            first[1:] = kb[1:] != kb[:-1]
            starts = np.flatnonzero(first)
            pos = np.arange(len(kb)) - starts[np.cumsum(first) - 1]
            return tbl.filter(pa.array(pos < k))

        b_dt = nano._dt_of_us(dyn_eval[3])
        lo_dt = (
            lo_val
            if isinstance(lo_val, _dt.datetime)
            else _dt.datetime(lo_val.year, lo_val.month, lo_val.day)
        )
        b_key, lo_key = key_of(dyn_eval[3]), key_of(nano._us_of(lo_dt))
        summ = self._topk_summaries.get(key)
        if summ is not None and summ["tag"] == tag0 and summ["from"] <= b_key:
            kb = bkeys(summ["tbl"])
            kept = summ["tbl"].filter(
                pc.and_(pc.greater(kb, b_key), pc.less(kb, lo_key))
            )
            fields = summ["fields"]
        else:
            if summ is None:
                why = "none kept in this session"
            elif summ["tag"] != tag0:
                why = (
                    "invalidated: the entry was rewritten since "
                    "(another writer or a compaction)"
                )
            else:
                why = "they start after this window's boundary bucket"
            n_b = 0
            b = nano.bucket_end(b_dt, gran)
            while b < lo_dt and n_b * k <= cap:
                n_b += 1
                b = nano.bucket_end(b, gran)
            if n_b * k > cap:
                return refuse(f"k × buckets ({k} × {n_b}+) is over the collect cap")
            kept = t.schema.empty_table()
            if n_b:
                dtype = lay["bucket_dtype"]
                st = entry.get(self.spark).filter(
                    (F.col(bucket) > F.lit(b_dt).cast(dtype))
                    & (F.col(bucket) < F.lit(lo_dt).cast(dtype))
                )
                aug = st.select(F.col(bucket), *lay["fin_cols"])
                if spec.having is not None:
                    aug = aug.filter(F.col("__fin_hv"))
                w = Window.partitionBy(bucket).orderBy(
                    *[_order_col(a, o) for a, o in zip(lay["order_aug"], spec.order_by)]
                )
                kept = (
                    aug.withColumn("__qc_rn", F.row_number().over(w))
                    .filter(F.col("__qc_rn") <= k)
                    .drop("__qc_rn")
                    .limit(cap + 1)
                    .toArrow()
                )
                if kept.num_rows > cap:
                    return refuse("summary build over the collect cap")
                kept = kept.cast(target)
            fields = merged.select(F.col(bucket), *lay["fin_cols"]).schema.fields
            log.info(
                fingerprint,
                f"bucket top-k summaries built over {n_b} buckets between "
                f"{b_dt} and {lo_dt}: {why}",
            )
        summ = {
            "tag": entry.state_tag(),
            "from": b_key,
            "tbl": pa.concat_tables([kept, per_bucket_topk(t)]),
            "fields": fields,
        }
        self._topk_summaries[key] = summ
        self._topk_summaries.move_to_end(key)
        while len(self._topk_summaries) > self._TOPK_SUMMARIES_MAX:
            self._topk_summaries.popitem(last=False)

        above = summ["tbl"].filter(pc.greater(bkeys(summ["tbl"]), b_key))
        cand = pa.concat_tables([above, bnd])
        log.info(
            fingerprint,
            f"dynamic bound: bucket top-k over {above.num_rows} summary rows "
            f"above {b_dt} plus {bnd.num_rows} boundary-bucket rows",
        )
        return self._arrow_result(
            cand, fields, 1, spec, lay["out"], lay["extra"], lay["order"]
        )

    @staticmethod
    def _fin_cols(plans, spec: AggSpec, out_names, extra_names) -> List[Column]:
        """The finalize columns that follow the state columns in a fused
        collect: ``__fin{i}`` per output column, ``__ord_{name}`` per
        order-only key, then ``__fin_hv`` (HAVING) last."""
        fin_by_name = {p.name: p.finalize for p in plans}
        cols = [
            (fin_by_name[n] if n in fin_by_name else F.col(n)).alias(f"__fin{i}")
            for i, n in enumerate(out_names)
        ]
        cols += [F.col(n).alias(f"__ord_{n}") for n in extra_names]
        if spec.having is not None:
            cols.append(fin_by_name["__qc_having"].alias("__fin_hv"))
        return cols

    @staticmethod
    def _arrow_sort_keys(tbl, spec: AggSpec, names):
        """pyarrow ``(sort_keys, null_placement)`` for the ORDER BY over
        columns ``names`` of ``tbl``, or None where pyarrow's order would
        differ from Spark's: keys holding NULLs that want different
        placements (pyarrow has one for all keys; a key without NULLs
        needs none), a nested key, or a NaN in a float key (Spark sorts
        NaN greatest)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        keys = []
        placements = set()
        for o, nm in zip(spec.order_by, names):
            col = tbl.column(nm)
            if pa.types.is_nested(col.type):
                return None  # pyarrow does not sort nested types
            if pa.types.is_floating(col.type) and pc.any(pc.is_nan(col)).as_py():
                return None
            asc = not o.desc
            if col.null_count:
                nf = asc if o.nulls_first is None else o.nulls_first
                placements.add("at_start" if nf else "at_end")
            keys.append((nm, "ascending" if asc else "descending"))
        if len(placements) > 1:
            return None
        return keys, placements.pop() if placements else "at_end"

    def _fused_layout(self, spec: AggSpec):
        """Output-column layout of every finalize that builds its result
        from an Arrow table — the classic fused finalize, the nano and lite
        driver tiers, and the bucket top-k: (out_names, order_names, extra
        order-only ride-along names). None on duplicate output names."""
        out_names = list(spec.select_order)
        if len(set(out_names)) != len(out_names):
            return None
        # ORDER BY keys that aren't output columns (e.g. ORDER BY a group
        # key that was not selected) ride along and are dropped after sort
        order_names: List[str] = []
        extra_names: List[str] = []
        if spec.order_by:
            for o in spec.order_by:
                nm = self._resolve_order_name(o.expr, spec)
                order_names.append(nm)
                if nm not in out_names and nm not in extra_names:
                    extra_names.append(nm)
        return out_names, order_names, extra_names

    def _arrow_result(
        self,
        tbl,
        aug_fields,
        base_idx: int,
        spec: AggSpec,
        out_names: List[str],
        extra_names: List[str],
        order_names: List[str],
    ) -> DataFrame:
        """Driver-side finalize of a collected augmented table: HAVING
        filter, Spark-semantics sort (nulls placement, NaN-greatest guard),
        LIMIT, and re-entry into Spark as a LocalRelation."""
        from pyspark.sql.types import StructField, StructType

        import pyarrow.compute as pc

        n_fin = len(out_names)
        if spec.having is not None:
            tbl = tbl.filter(pc.fill_null(tbl.column(tbl.num_columns - 1), False))

        res_names = out_names + extra_names
        res = tbl.select(list(range(base_idx, base_idx + n_fin + len(extra_names))))
        res = res.rename_columns(res_names)
        res_fields = [
            StructField(res_names[i], f.dataType, f.nullable)
            for i, f in enumerate(aug_fields[base_idx : base_idx + n_fin + len(extra_names)])
        ]

        sorted_locally = False
        sk = self._arrow_sort_keys(res, spec, order_names) if spec.order_by else None
        if sk is not None:
            res = res.take(pc.sort_indices(res, sort_keys=sk[0], null_placement=sk[1]))
            sorted_locally = True
            if spec.limit is not None:
                res = res.slice(0, spec.limit)
        if sorted_locally or not spec.order_by:
            if extra_names:
                res = res.select(list(range(n_fin)))
                res_fields = res_fields[:n_fin]
            out = arrow_to_spark(self.spark, res, schema=StructType(res_fields))
            if spec.limit is not None and not spec.order_by:
                out = out.limit(spec.limit)
            return out
        # mixed null placements / NaN present: Spark-side local sort (single
        # partition → no range exchange), then project the extras away.
        out = arrow_to_spark(self.spark, res, schema=StructType(res_fields))
        sort_cols = [
            _order_col(nm, o) for o, nm in zip(spec.order_by, order_names)
        ]
        out = out.coalesce(1).sortWithinPartitions(*sort_cols)
        if spec.limit is not None:
            out = out.limit(spec.limit)
        return out.select(*out_names)

    def _warm_merge(
        self,
        cached_state: DataFrame,
        wm_lo: int,
        now_ns: int,
        base: DataFrame,
        pred: Optional[Column],
        time_bounds,
        plans,
        state_group,
        group_names: List[str],
        merge_aggs: Dict[str, Column],
        partial_agg,
    ):
        """The classic warm refresh program: fresh rows in ``[wm_lo, now)``
        as singleton states (map-side combine = partial aggregation, ONE
        shuffle; explicit partial agg for sketch states), unioned with
        ``cached_state`` and merged. Shared by real hits and semantic
        (coarsened-donor) hits. Returns (merged DataFrame, Observation).

        For a big bucketed state ``cached_state`` is only its tail, the
        buckets ``>= lo`` (:meth:`CacheEntry.tail_state_df`), and the merge
        is exactly the tail the layered store keeps; a store that declines
        or fails rebuilds this merge over the whole state. With the scans'
        one-filter bounds (``time_bounds``) this wins perfbench
        ``big_state`` ``refresh_vs_plain``: py4j calls per refresh
        ~1,300 → ~830 and ``.filter`` calls 16 → 4 (a cProfile of 5
        refreshes, 4-core VM; interleaved medians in ``CHANGES.md``)."""
        fresh = time_bounds(base, wm_lo, now_ns, pred)
        self._obs_counter += 1
        obs = Observation(f"qc_fresh_{self._obs_counter}")
        fresh = fresh.observe(obs, F.count(F.lit(1)).alias("rows"))
        singletons: Dict[str, Column] = {}
        use_singleton = True
        for p in plans:
            if p.singleton is None:
                use_singleton = False
                break
            singletons.update(p.singleton)
        if use_singleton:
            from .functions.partial import relax_nullability as _relax

            dtypes = {f.name: _relax(f.dataType) for f in cached_state.schema.fields}
            fresh_state = fresh.select(
                *[
                    to_column(g.expr).cast(dtypes[g.name]).alias(g.name)
                    for g in state_group
                ],
                *[c.cast(dtypes[n]).alias(n) for n, c in singletons.items()],
            )
        else:
            fresh_state = partial_agg(fresh)
        unioned = cached_state.unionByName(fresh_state)
        merged = unioned.groupBy(*[F.col(n) for n in group_names]).agg(
            *[c.alias(n) for n, c in merge_aggs.items()]
        )
        return merged, obs

    #: fine granularity → the coarser granularities it nests into exactly
    #: (date_trunc(coarse, date_trunc(fine, ts)) == date_trunc(coarse, ts)).
    #: week is excluded as a FINE source: weeks cross month/quarter/year
    #: boundaries, so re-truncating week starts is wrong.
    _COARSEN_OK = {
        "microsecond": {"millisecond", "second", "minute", "hour", "day", "week", "month", "quarter", "year"},
        "millisecond": {"second", "minute", "hour", "day", "week", "month", "quarter", "year"},
        "second": {"minute", "hour", "day", "week", "month", "quarter", "year"},
        "minute": {"hour", "day", "week", "month", "quarter", "year"},
        "hour": {"day", "week", "month", "quarter", "year"},
        "day": {"week", "month", "quarter", "year"},
        "month": {"quarter", "year"},
        "quarter": {"year"},
    }

    def _find_agg_donor(
        self,
        spec: AggSpec,
        tgb,
        ts_col: str,
        own_fp: str,
        now_ns: int,
        state_cols: List[str],
        group_names: List[str],
        state_group,
    ):
        """A stored aggregate entry for the SAME query at a FINER temporal
        bucket, usable to answer this one by re-truncation + merge.
        Returns (coarsened state DataFrame aligned to state_cols,
        watermark_ns, donor fingerprint) or None."""
        import json as _json

        from .plans.classify import find_temporal_group_by
        from .plans.ir import (
            Col as _ColRef,
            canon_predicate,
            ir_from_json,
            transform as _transform,
        )

        cfg = self.config
        try:
            tag_blobs = cfg.cache.tags("agg_spec")
        except Exception:
            return None
        if not tag_blobs:
            return None

        def aggs_canon(s):
            return ";".join(f"{i.name}={i.expr.canon()}" for i in s.aggregates)

        def nonbucket_canon(s, bucket_name):
            return ";".join(
                f"{i.name}={i.expr.canon()}"
                for i in s.group_by
                if i.name != bucket_name
            )

        coarse = tgb.granularity.lower()
        want_pred = canon_predicate(spec.predicate)
        want_aggs = aggs_canon(spec)
        want_hav = spec.having.canon() if spec.having is not None else ""
        want_joins = ";".join(j.canon() for j in spec.join_steps)
        want_rest = nonbucket_canon(spec, tgb.output_name)

        for fp, blob in tag_blobs.items():
            if fp == own_fp:
                continue
            try:
                data = _json.loads(blob)
                dspec = ir_from_json(data["spec"])
                d_ts = data.get("ts_col")
                d_tz = data.get("tz")
            except Exception:
                continue
            if d_ts != ts_col or dspec.table != spec.table:
                continue
            # a donor built under a different session timezone has
            # tz-dependent bucket values: re-truncating them here would be
            # correct in neither timezone. Tags written before the tz field
            # existed (d_tz None) are refused for the same reason.
            if d_tz != self._session_tz():
                continue
            if dspec.grouping_sets:
                continue
            if ";".join(j.canon() for j in dspec.join_steps) != want_joins:
                continue
            if canon_predicate(dspec.predicate) != want_pred:
                continue
            if aggs_canon(dspec) != want_aggs:
                continue
            d_hav = dspec.having.canon() if dspec.having is not None else ""
            if d_hav != want_hav:
                continue
            tgb_d, ok = find_temporal_group_by(
                dspec.group_by, cfg.temporal_columns, cfg.group_by_functions
            )
            if not ok or tgb_d is None:
                continue
            fine = tgb_d.granularity.lower()
            if coarse not in self._COARSEN_OK.get(fine, ()):
                continue
            if nonbucket_canon(dspec, tgb_d.output_name) != want_rest:
                continue
            d_entry = cfg.cache.entry(fp)
            if not d_entry.occupied:
                continue
            d_wm = d_entry.watermark_ns
            if d_wm is None or d_wm > now_ns:
                continue
            try:
                tbl = d_entry.get_arrow()
                d_state = (
                    arrow_to_spark(self.spark, tbl)
                    if tbl is not None
                    else d_entry.get(self.spark)
                )
                # donor columns: its group names + the (identical) agg
                # state names. Re-truncate the donor's bucket column with
                # THIS query's bucket expression (ts substituted by the
                # donor bucket), keep other keys and state columns as-is.
                def _sub(e):
                    if isinstance(e, _ColRef) and e.name == ts_col:
                        return _ColRef(tgb_d.output_name)
                    return e

                sel = []
                for g in state_group:
                    if g.name == tgb.output_name:
                        coarsen = _transform(g.expr, _sub)
                        sel.append(to_column(coarsen).alias(g.name))
                    else:
                        sel.append(F.col(g.name))
                for n in state_cols:
                    if n not in group_names:
                        sel.append(F.col(n))
                coarsened = d_state.select(*sel)
                if set(coarsened.columns) != set(state_cols):
                    continue
                return coarsened, d_wm, fp
            except Exception as e:
                cfg.log.warn(own_fp, f"coarsening donor {fp} unusable ({e})")
                continue
        return None
