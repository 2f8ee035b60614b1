"""Engine configuration.

Analogue of the reference's ``QueryCacheConfig`` (``src/lib.rs:22-72``):
default temporal column + extras, the allowed temporal group-by function set
(demo adds ``date_trunc``, ``examples/demo.rs:78``), the deterministic-replay
``override_now`` (``src/lib.rs:47-50``), and the cache handle.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import FrozenSet, Mapping, Optional

from .cache import MemoryQueryCache, QueryCache
from .log import AbstractLog, LogNoOp


@dataclass
class QueryCacheConfig:
    cache: QueryCache = field(default_factory=MemoryQueryCache)
    #: Primary temporal column (reference ctor arg, ``src/lib.rs:31-40``).
    default_temporal_column: str = "ts"
    #: Additional temporal columns (``with_temporal_column``, ``src/lib.rs:42-45``).
    extra_temporal_columns: FrozenSet[str] = frozenset()
    #: Functions that may wrap the temporal column in GROUP BY
    #: (``with_group_by_function``, ``src/lib.rs:52-55``).
    group_by_functions: FrozenSet[str] = frozenset({"date_trunc"})
    #: Pin "now" for deterministic replay (``src/lib.rs:47-50``); ns epoch.
    override_now_ns: Optional[int] = None
    #: Bucket granularity for the bound-independent state kept for dynamic
    #: lower-bound queries with no temporal group-by (beyond-reference,
    #: README.md:131-132): full buckets above the boundary are answered from
    #: state; the boundary bucket is recomputed from raw rows.
    dynamic_granularity: str = "hour"
    #: temporal column → physical partition column (e.g. ``{"ts": "d"}`` for
    #: a table partitioned by the event date). When set, watermark bounds are
    #: ALSO applied to the partition column so the refresh scan prunes whole
    #: partitions (PartitionFilters), not just row groups — the difference
    #: between listing 3 partitions and listing 3 years of them at 100 TB.
    temporal_partition_columns: Mapping[str, str] = field(default_factory=dict)
    #: >0 enables a salted two-phase partial aggregation (shuffle on
    #: (keys, salt) first, merge per-salt states second) on the cache's
    #: state-building aggregations — the skewed-hot-key guard for
    #: memory-heavy states (HLL sketches, collect_set arrays) where
    #: map-side combine alone can spill one reducer. Results are identical
    #: by the merge-associativity law (tests/test_robustness.py). 0 = off.
    salt_buckets: int = 0
    #: Memoize finalized, driver-local results per (fingerprint, watermark
    #: — plus now for a dynamic bound —, post-finalize shape): a hot read
    #: (empty refresh window) whose key matches a result this session
    #: already produced returns that DataFrame with no Spark job — the
    #: dashboard-reload case. Memoized shapes: every fused / template /
    #: lite / nano tier result; a classic or dynamic-bound result with a
    #: LIMIT at most the driver-collect cap and no OFFSET, collected to
    #: Arrow once inside ``sql()`` (the ``big_state`` hot reload); the
    #: driver top-k tier's result (``small_dashboard`` ``topk``); and a
    #: derived table's outer shape over a driver-local inner with no joins
    #: (``small_dashboard`` ``moving_avg``). A result without LIMIT stays
    #: lazy and is not memoized. Sound because the result as-of a
    #: watermark is deterministic: state is immutable per watermark and
    #: finalize is a pure function of state. Any watermark advance (new
    #: data) changes the key, so the memo can never serve stale data the
    #: hot path itself wouldn't serve. False turns every memo path off
    #: (and the in-call collect with it).
    result_memo: bool = True
    #: Bounded-staleness refresh policy (ns). When ``now - watermark`` is
    #: below this, the query is served as-of the stored watermark — no
    #: fresh scan, no store-back (and, with ``result_memo``, zero Spark
    #: work). The dashboard-reload knob: a page refreshing every few
    #: seconds against an interval of e.g. 30s does one real incremental
    #: refresh per 30s and serves state in between — the same contract as
    #: a TimescaleDB continuous-aggregate refresh policy or a materialized
    #: view with a refresh schedule. 0 (default) = always exact to "now".
    min_refresh_interval_ns: int = 0
    #: Watermark source (SURVEY §7 hard-part 3 — the append-only/late-data
    #: contract). ``"now"`` (default, the reference's behavior): the stored
    #: watermark is query-execution time — rows that land later with event
    #: times before it are silently never folded in. ``"data"``: the stored
    #: watermark is ``max(ts)+1`` over the rows actually scanned — rows
    #: arriving late but with event times past everything already seen are
    #: still picked up, at the cost of one extra (scan-pruned) max-ts job
    #: per refresh and no hot-read short-circuit while ingest lags. Rows
    #: arriving with event times BELOW max(ts) remain out of contract in
    #: both modes (same as any watermarked streaming system).
    watermark_mode: str = "now"
    #: Row cap for the non-top-k filter row-set cache (the state IS the
    #: result set, so unlike aggregate state it grows with the data). Past
    #: the cap the engine stops caching the query and passes it through —
    #: a wrong-size state can degrade to a plain scan but never grow
    #: unboundedly. ``None`` = unlimited (the pre-r3 behavior).
    filter_state_max_rows: Optional[int] = 50_000_000
    #: Distinct-value cap per group for the exact median/percentile
    #: RLE-histogram state (``functions/partial.py``): the state is
    #: O(distinct values per group), so an unquantized continuous column
    #: would bloat it silently. When any group's histogram exceeds this
    #: many distinct values at store time, the engine refuses to cache the
    #: query (passthrough) rather than store a runaway state. ``None`` =
    #: unlimited.
    percentile_max_distinct: Optional[int] = 100_000
    #: Cache ``approx_percentile``/``percentile_approx`` with a MERGEABLE
    #: log-binned quantile sketch (DDSketch-style relative-error binning
    #: over the existing RLE-histogram state machinery): state is
    #: O(log-gamma bins) per group — bounded regardless of value
    #: cardinality, the scale path past ``percentile_max_distinct``. ON by
    #: default since r13: the user already asked for "approx", and the
    #: off default silently degraded percentile dashboards to passthrough
    #: at the histogram cardinality cap. The sketch's estimates differ
    #: from Spark's own KLL-based percentile_approx (same precedent as
    #: the HLL approx-distinct path: band-checked against the exact
    #: quantile, within ``3·eps`` relative error); set False to keep
    #: Spark's native estimates via passthrough. Exact ``median``/
    #: ``percentile`` are unaffected (RLE-histogram path).
    approx_percentile_sketch: bool = True
    #: Relative-error bound for the quantile sketch's log-gamma binning:
    #: every stored representative is within ``eps`` of the raw value
    #: (|v| ≥ 1e-12; smaller magnitudes collapse to 0). Changing it
    #: changes the bin layout, so it participates in the fingerprint —
    #: entries never mix bins from different eps.
    approx_percentile_eps: float = 0.01
    #: Self-healing policy when :meth:`CachedSparkSession.audit` finds a
    #: diverged bucket (late data / append-only violation — SURVEY §4.4.1):
    #: ``"off"`` (default) reports only; ``"invalidate"`` additionally
    #: drops the entry's state + watermark so the NEXT query plans a full
    #: recompute and stores fresh state — closing the loop the corruption
    #: self-heal already has for unreadable state. Logged through the
    #: decision log either way.
    audit_heal: str = "off"
    #: Distinct-value cap per group for the exact ``count(DISTINCT x)``
    #: set state (``functions/partial.py``): the state materializes each
    #: group's full distinct set, so a high-cardinality column (user ids,
    #: event ids) would grow it without bound. Past the cap at store time
    #: the engine refuses to cache the query (passthrough) rather than
    #: store a runaway state — ``approx_count_distinct`` (constant-size
    #: HLL state) is the scale path. ``None`` = unlimited.
    distinct_max_values: Optional[int] = 1_000_000
    #: Byte budget for the driver-local "nano" tier (``nano.py``): when
    #: the query's source is a locally registered parquet table whose
    #: TOTAL file size fits this budget, the per-refresh fresh-tail +
    #: boundary scan runs driver-side via pyarrow (row-group pruning,
    #: vectorized group_by) instead of paying a Spark job's per-refresh
    #: parse/optimize/codegen fixed cost (~0.3 s). The same budget gates
    #: a cache MISS: a cold load under it computes the state with one
    #: pyarrow scan of the whole history instead of the classic
    #: compute-and-store jobs. Gated in BYTES, not rows, per the r4/r5
    #: driver-collect advice. Above the budget — the 100 TB case — the
    #: distributed tiers run unconditionally. 0 disables the tier for
    #: refreshes and misses alike.
    nano_refresh_max_bytes: int = 256 << 20
    #: ``x IN (SELECT …)`` fold cap: the inner cached aggregate's result
    #: column is collected driver-side and folded into the outer predicate
    #: as an IN-list of literals — sound only while the list stays small.
    #: More groups than this → the query degrades to passthrough (the
    #: already-refreshed inner entry stays valid for other queries). At
    #: 100 TB an IN over a high-cardinality key should be a semi-join the
    #: user writes explicitly; this path is for the dashboard shape
    #: ("types whose count exceeds N") where the set is tens of values.
    in_subquery_max_values: int = 10_000
    #: Strict-error mode (test/fuzz rigs): when True, an unexpected
    #: exception inside the cached planner RAISES instead of degrading to
    #: a warn-and-passthrough, so engine regressions fail loudly in CI
    #: while production sessions keep the self-healing degrade behavior.
    #: Also settable via the ``QC_STRICT_ERRORS`` env var ("1"/"true").
    strict_errors: bool = False
    log: AbstractLog = field(default_factory=LogNoOp)

    @property
    def temporal_columns(self) -> FrozenSet[str]:
        return frozenset({self.default_temporal_column}) | self.extra_temporal_columns
