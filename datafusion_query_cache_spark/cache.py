"""Pluggable query-state caches.

Re-creates the reference's ``QueryCache`` trait + ``CacheEntry``
(Occupied/Vacant) (``src/cache.rs:10-50``) and ``MemoryQueryCache``
(``src/cache.rs:52-174``), plus the Parquet-backed cache the reference only
promises (``ObjectStoreQueryCache`` TODO — ``README.md:25``,
``src/cache.rs:176``).

Semantics preserved from the reference:
* keyed by query fingerprint string;
* entry value = (watermark_ns, partial-aggregate state);
* ``put`` overwrites, last-write-wins (``src/cache.rs:109-114``);
* state is stored compacted (we store the *merged* state — a strict
  improvement over the reference's append-of-batches, SURVEY §3.3).

At scale the Parquet cache is the real one: the partial state is tiny
relative to the scanned data (one row per group), a single Parquet file per
fingerprint, written atomically (tmp + rename) so concurrent refreshes keep
the reference's benign last-write-wins race (SURVEY §4.4.8).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
import uuid
from abc import ABC, abstractmethod
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession

#: percentile/median histogram state columns (functions/partial.py): an
#: array<struct<v,c>> counted multiset kept UNcompacted through the
#: partial/merge expressions (in-expression RLE would re-evaluate captured
#: arrays per element — no CSE inside higher-order lambdas). The stored
#: state is compressed here instead, once per refresh, driver-side: one
#: entry per distinct value, sorted. The name pattern is part of the state
#: naming contract (``__qc{i}_{kind}``).
_HIST_COL_RE = re.compile(r"^__qc\d+_hist$")

#: file-name prefixes of a Spark write that are not data files: hidden
#: files and the commit markers. (A bare ``_`` would hide hive dirs of a
#: ``__qc_bucket`` partition column.)
_SPARK_MARKERS = [".", "_SUCCESS", "_committed", "_started"]

#: exact count(DISTINCT) set-state columns (``functions/partial.py`` names
#: them ``__qc{i}_dset``) — capped at store time by ``_check_set_*`` below
_DSET_COL_RE = re.compile(r"^__qc\d+_dset$")


class StateCardinalityExceeded(RuntimeError):
    """A per-group state cell grew past its configured cardinality cap —
    storing it would bloat cache state (it is O(distinct values) per
    group). The session catches this, marks the fingerprint uncacheable,
    and passes the query through."""

    def __init__(self, fingerprint: str, distinct: int, what: str, knob: str):
        super().__init__(
            f"{what} state for {fingerprint[:80]}... has {distinct} distinct "
            f"values per group (> {knob})"
        )
        self.fingerprint = fingerprint
        self.distinct = distinct


class _DriverPutOverflow(Exception):
    """Internal: a bounded first-put collect found more state rows than
    the driver cap — the caller's except falls to the distributed
    store."""


class HistogramCardinalityExceeded(StateCardinalityExceeded):
    """Exact median/percentile RLE-histogram cell over
    ``config.percentile_max_distinct``."""

    def __init__(self, fingerprint: str, distinct: int):
        super().__init__(
            fingerprint, distinct, "histogram", "percentile_max_distinct"
        )


class SetCardinalityExceeded(StateCardinalityExceeded):
    """Exact ``count(DISTINCT x)`` set-state cell over
    ``config.distinct_max_values`` — a high-cardinality column would
    otherwise silently materialize its full distinct set per group into
    cached state (r4/r5 ADVICE). Callers degrade to passthrough;
    ``approx_count_distinct`` (constant-size HLL state) stays cacheable at
    any cardinality."""

    def __init__(self, fingerprint: str, distinct: int):
        super().__init__(
            fingerprint, distinct, "count(DISTINCT) set", "distinct_max_values"
        )


def dense_arrow(tbl):
    """Drop interior zero-row record batches before an Arrow table crosses
    into Spark. PySpark 4.x's ``createDataFrame(pa.Table)`` stops
    converting at the first EMPTY batch that has non-empty batches after
    it, silently truncating every following row (leading/trailing empties
    are fine) — found by the r9 differential fuzzer when a zero-row
    refresh appended an empty chunk to a memory-cache row set and the
    next refresh's rows vanished. Zero-copy: re-slices the same buffers.
    """
    import pyarrow as pa

    if tbl.num_rows == 0 or tbl.num_columns == 0:
        return tbl
    # compare filtered vs unfiltered BATCH counts — comparing against
    # column(0).num_chunks misses a zero-length chunk living only in a
    # differently-chunked non-first column, which to_batches() still
    # surfaces as an interior empty batch (r9 ADVICE)
    batches = tbl.to_batches()
    dense = [b for b in batches if b.num_rows]
    if len(dense) == len(batches):
        return tbl  # no empty batches — common case, no work
    return pa.Table.from_batches(dense, schema=tbl.schema)


def arrow_to_spark(spark: SparkSession, tbl, schema=None) -> DataFrame:
    """The ONE doorway for ``pa.Table`` → Spark DataFrame conversion:
    densify, then convert. Every call site in the engine routes through
    here (or passes ``dense_arrow`` output directly) so the PySpark 4.x
    interior-empty-batch truncation bug can never resurface via a new
    code path — the invariant is local, not enforced at a distance."""
    t = dense_arrow(tbl)
    return (
        spark.createDataFrame(t, schema=schema)
        if schema is not None
        else spark.createDataFrame(t)
    )


def _compact_hist_cell(cell, cap: Optional[int] = None, fp: str = ""):
    if cell is None or len(cell) == 0:
        return cell
    agg: Dict[float, int] = {}
    for e in cell:
        v = e["v"]
        if v != v:  # NaN can't be a sort/dict key; leave the cell as-is
            if cap is not None:
                # the raw entry count may hold duplicate values — count
                # DISTINCT values (+1 for NaN) so a NaN-bearing cell can't
                # spuriously exceed the cap below its true cardinality
                distinct = len({x["v"] for x in cell if x["v"] == x["v"]}) + 1
                if distinct > cap:
                    raise HistogramCardinalityExceeded(fp, distinct)
            return list(cell)
        agg[v] = agg.get(v, 0) + e["c"]
    if cap is not None and len(agg) > cap:
        raise HistogramCardinalityExceeded(fp, len(agg))
    return [{"v": v, "c": c} for v, c in sorted(agg.items())]


def _compact_hist_arrow(tbl, cap: Optional[int] = None, fp: str = ""):
    """Compact histogram state columns of an Arrow table (type-preserving)."""
    import pyarrow as pa

    for i, name in enumerate(tbl.schema.names):
        if not _HIST_COL_RE.match(name):
            continue
        field = tbl.schema.field(i)
        cells = [_compact_hist_cell(c, cap, fp) for c in tbl.column(i).to_pylist()]
        tbl = tbl.set_column(i, field, pa.array(cells, type=field.type))
    return tbl


def _check_set_arrow(tbl, cap: Optional[int] = None, fp: str = ""):
    """Enforce the count(DISTINCT) set-state cardinality cap on an arrow
    state table (cells are already-distinct arrays; a length check is the
    whole enforcement — no compaction can shrink an exact distinct set)."""
    if cap is not None:
        import pyarrow.compute as pc

        for i, name in enumerate(tbl.schema.names):
            if _DSET_COL_RE.match(name):
                mx = pc.max(pc.list_value_length(tbl.column(i))).as_py()
                if mx is not None and int(mx) > cap:
                    raise SetCardinalityExceeded(fp, int(mx))
    return tbl


class CacheEntry(ABC):
    """One fingerprint's slot. ``occupied`` ⇔ reference's Occupied variant."""

    #: Set by the session when the query carries percentile histogram state:
    #: max distinct values per group the store will accept before raising
    #: :class:`HistogramCardinalityExceeded`. ``None`` = unlimited. Enforced
    #: wherever the store holds the state in Arrow (the driver-collect
    #: paths, and a distributed write read back under the row cap); a
    #: >500k-row distributed state skips the check — at that point the row
    #: cap, not per-cell cardinality, is the operative bound.
    hist_cap: Optional[int] = None

    #: Set by the session when the query carries exact count(DISTINCT) set
    #: state: max distinct values per group before the store raises
    #: :class:`SetCardinalityExceeded`. Same enforcement surface and
    #: distributed-path caveat as ``hist_cap``.
    set_cap: Optional[int] = None

    #: Set by the session when the cached state's group keys include a
    #: temporal bucket (the ``date_trunc`` group-by output, or the
    #: ``__qc_bucket`` column dynamic-bound state is kept at): the bucket
    #: column's name in the state schema. File-backed stores use it to lay
    #: BIG state (past the driver-collect cap) out ``partitionBy(bucket)``
    #: — one write task per live bucket instead of a single-task
    #: ``coalesce(1)``, and temporally-bounded warm reads (dynamic bounds,
    #: bucket-coarsening donors) prune whole bucket directories. ``None``
    #: = no temporal key in the state; backends ignore it.
    bucket_col: Optional[str] = None

    @property
    @abstractmethod
    def occupied(self) -> bool: ...

    @property
    @abstractmethod
    def watermark_ns(self) -> Optional[int]: ...

    @abstractmethod
    def get(self, spark: SparkSession) -> DataFrame:
        """Cached partial-state DataFrame (reference ``execute_get``,
        ``src/aggregate.rs:680-688``)."""

    @abstractmethod
    def put(self, watermark_ns: int, state: DataFrame, spark: SparkSession) -> DataFrame:
        """Store state; return a DataFrame backed by the *stored* copy so the
        caller can finalize without recomputing the upstream scan (the
        reference's ``CacheUpdateAggregateExec`` similarly re-emits the
        collected batches, ``src/aggregate.rs:588-601``)."""

    def put_split(
        self,
        watermark_ns: int,
        augmented: DataFrame,
        state_cols: List[str],
        state_schema,
        spark: SparkSession,
        fresh_rows_cb=None,
    ):
        """Fused store + finalize: collect ``augmented`` (= state columns
        followed by result columns) in ONE job, persist only the state
        columns, and return the full pyarrow Table so the caller can build
        the query result driver-side — the source is scanned exactly once
        and no second Spark job touches the data.

        Returns ``None`` when the driver-side path doesn't apply (state too
        large); the caller must fall back to :meth:`put`. When
        ``fresh_rows_cb`` reports a 0-row refresh window the state content
        is provably unchanged, so only the watermark is advanced (no state
        rewrite)."""
        return None

    def get_arrow(self):
        """Driver-side copy of the stored state as a pyarrow Table, or
        ``None`` when unavailable/too large. Lets small state enter the
        merge plan as a local relation instead of a file scan."""
        return None

    def state_columns(self) -> Optional[List[str]]:
        """Stored-state column names from metadata alone (no JVM work, no
        state read), or ``None`` when the backend can't answer cheaply."""
        return None

    def state_schema(self):
        """Stored-state Spark schema (StructType) from metadata alone, or
        ``None`` when the backend can't answer cheaply."""
        return None

    def state_rows(self) -> Optional[int]:
        """Stored-state row count when known from metadata, else ``None``."""
        return None

    def verify_state_files(self, max_files: int = 64) -> bool:
        """Cheap integrity check of LAZILY-read backing state.

        Row-set state is returned to the caller as a DataFrame that scans
        the state parquet at ACTION time — a vandalized/truncated part
        file would otherwise surface as the caller's read error instead of
        a self-healed miss (found by the r10 corruption fuzz axis on a
        filter row-set). Backends with no lazily-read files return True.
        """
        return True

    def state_df(self, spark: SparkSession) -> Optional[DataFrame]:
        """State as a DataFrame WITHOUT moving rows through the driver
        (e.g. a schema-pinned read of the backing parquet). The warm merge
        prefers this over get_arrow()+createDataFrame: executors read the
        tiny state file inside the refresh job instead of the driver
        re-uploading it through py4j on every refresh. ``None`` when the
        backend has no file-backed form (in-memory caches)."""
        return None

    def put_arrow(self, watermark_ns: int, state_tbl, state_schema) -> bool:
        """Store state from an ALREADY-COLLECTED pyarrow Table (the nano
        and lite tiers merge state on the driver and hand it here). Returns
        False when unsupported; the caller must re-store via :meth:`put`."""
        return False

    def advance_watermark(self, watermark_ns: int) -> bool:
        """Move the watermark forward WITHOUT touching state — valid exactly
        when the refresh window contained zero rows (merge with nothing is
        the identity). Returns False when unsupported."""
        return False

    def invalidate(self) -> bool:
        """Drop this entry's state + watermark so the next query plans a
        full-recompute miss. The self-healing hook: ``audit()`` calls it
        under ``config.audit_heal='invalidate'`` when a sampled bucket
        diverges (late data / append-only violation), closing the same
        loop the corruption self-heal has for unreadable state. Returns
        False when the backend doesn't support invalidation."""
        return False

    def put_bucket_tail(
        self,
        watermark_ns: int,
        merged: DataFrame,
        lo_value,
        spark: SparkSession,
        fin_cols: Optional[List[Column]] = None,
        ride: Optional[DataFrame] = None,
    ):
        """Incremental big-state store-back: persist only the merged tail
        (buckets ``>= lo_value``) as a new layer over the existing
        bucket-partitioned state. Returns the full layered state, or None
        when unsupported/inapplicable — the caller must fall back to
        :meth:`put`. With ``fin_cols`` (finalize columns over the state
        columns), a tail collected through the driver is returned instead
        as a pyarrow Table: the state columns, then ``fin_cols``, then a
        boolean ``__qc_ride`` marking the rows of ``ride`` (frames with the
        state's columns collected in the same job, never stored).
        File-backed stores override."""
        return None

    def state_tag(self):
        """Hashable identity of the stored layered state — it changes with
        every write, by any session, and with every compaction — or None
        when the state is not layered. Keys driver-side summaries of the
        state (the session's bucketed top-k summaries)."""
        return None

    def append(
        self,
        watermark_ns: int,
        fresh: DataFrame,
        spark: SparkSession,
        partition_cols: Optional[List[str]] = None,
        replace: bool = False,
    ) -> DataFrame:
        """Append ``fresh`` rows to the stored row-set state (filter-query
        caching) and return the full updated state. Default: read + union +
        rewrite; backends override with a real append. ``partition_cols``
        (e.g. the temporal date) asks file-backed backends to lay the state
        out partitioned so temporal reads of the state prune directories.
        ``replace=True`` discards any retained state first — required when
        ``fresh`` is a FULL recompute over an occupied-but-invalid entry
        (schema mismatch / unreadable), where a plain append would return
        stale-state ∪ recompute: silently duplicated rows."""
        full = (
            self.get(spark).unionByName(fresh)
            if self.occupied and not replace
            else fresh
        )
        return self.put(watermark_ns, full, spark)


class QueryCache(ABC):
    @abstractmethod
    def entry(self, fingerprint: str) -> CacheEntry: ...

    def put_tag(self, fingerprint: str, key: str, value: str) -> None:
        """Attach a small string tag to a fingerprint (e.g. the serialized
        filter spec that enables cross-session semantic subsumption).
        Best-effort: backends without durable tags may drop it."""

    def tags(self, key: str) -> Dict[str, str]:
        """All stored tags under ``key``: fingerprint → value."""
        return {}


# ---------------------------------------------------------------------------


class _MemoryEntry(CacheEntry):
    def __init__(self, cache: "MemoryQueryCache", fingerprint: str):
        self._cache = cache
        self._fp = fingerprint

    @property
    def occupied(self) -> bool:
        return self._fp in self._cache._store

    @property
    def watermark_ns(self) -> Optional[int]:
        v = self._cache._store.get(self._fp)
        return v[0] if v else None

    def get(self, spark: SparkSession) -> DataFrame:
        wm, tbl, schema = self._cache._store[self._fp]
        self._cache._touch(self._fp)
        return arrow_to_spark(spark, tbl, schema=schema)

    def put(self, watermark_ns: int, state: DataFrame, spark: SparkSession) -> DataFrame:
        # state lives as an ARROW table, never pandas: the pandas detour
        # conflates float NaN with SQL NULL (NaN is pandas' missing
        # sentinel), silently nulling NaN aggregates on the round trip
        schema = state.schema
        tbl = _check_set_arrow(
            _compact_hist_arrow(state.toArrow(), self.hist_cap, self._fp),
            self.set_cap, self._fp,
        )
        self._cache._store_put(self._fp, (watermark_ns, tbl, schema))
        return arrow_to_spark(spark, tbl, schema=schema)

    def invalidate(self) -> bool:
        with self._cache._lock:
            self._cache._store.pop(self._fp, None)
        return True

    def put_split(
        self,
        watermark_ns: int,
        augmented: DataFrame,
        state_cols,
        state_schema,
        spark: SparkSession,
        fresh_rows_cb=None,
    ):
        tbl = augmented.toArrow()  # the ONE job over the data
        fresh_rows = fresh_rows_cb() if fresh_rows_cb is not None else None
        if fresh_rows == 0 and self.occupied:
            _wm, cur, schema = self._cache._store[self._fp]
            self._cache._store_put(self._fp, (watermark_ns, cur, schema))
            return tbl
        state_tbl = _check_set_arrow(
            _compact_hist_arrow(
                tbl.select(list(state_cols)), self.hist_cap, self._fp
            ),
            self.set_cap, self._fp,
        )
        self._cache._store_put(self._fp, (watermark_ns, state_tbl, state_schema))
        return tbl

    def get_arrow(self):
        if not self.occupied:
            return None
        try:
            from pyspark.sql.pandas.types import to_arrow_schema

            _wm, tbl, schema = self._cache._store[self._fp]
            self._cache._touch(self._fp)
            # dense at the source: a stored table carrying an interior
            # empty chunk (e.g. concatenated upstream) must never reach a
            # createDataFrame consumer undensified (dense_arrow)
            return dense_arrow(tbl.cast(to_arrow_schema(schema)))
        except Exception:
            return None

    def state_columns(self) -> Optional[List[str]]:
        if not self.occupied:
            return None
        return [f.name for f in self._cache._store[self._fp][2].fields]

    def state_schema(self):
        if not self.occupied:
            return None
        return self._cache._store[self._fp][2]

    def state_rows(self) -> Optional[int]:
        if not self.occupied:
            return None
        return self._cache._store[self._fp][1].num_rows

    def put_arrow(self, watermark_ns: int, state_tbl, state_schema) -> bool:
        tbl = dense_arrow(
            _check_set_arrow(
                _compact_hist_arrow(state_tbl, self.hist_cap, self._fp),
                self.set_cap, self._fp,
            )
        )
        self._cache._store_put(self._fp, (watermark_ns, tbl, state_schema))
        return True

    def advance_watermark(self, watermark_ns: int) -> bool:
        if not self.occupied:
            return False
        with self._cache._lock:
            _wm, tbl, schema = self._cache._store[self._fp]
            self._cache._store[self._fp] = (watermark_ns, tbl, schema)
            self._cache._store.move_to_end(self._fp)
        return True

    def append(
        self,
        watermark_ns: int,
        fresh: DataFrame,
        spark: SparkSession,
        partition_cols: Optional[List[str]] = None,
        replace: bool = False,
    ) -> DataFrame:
        import pyarrow as pa

        fresh_tbl = fresh.toArrow()
        if self.occupied and not replace:
            _wm, tbl, schema = self._cache._store[self._fp]
            if fresh_tbl.num_rows == 0:
                # zero-row refresh: advance the watermark only — never
                # store an empty chunk (interior empties would truncate a
                # later createDataFrame, see dense_arrow)
                new = tbl
            else:
                new = dense_arrow(
                    pa.concat_tables([tbl, fresh_tbl.cast(tbl.schema)])
                )
        else:
            schema = fresh.schema
            new = fresh_tbl
        self._cache._store_put(self._fp, (watermark_ns, new, schema))
        return arrow_to_spark(spark, new, schema=schema)


class MemoryQueryCache(QueryCache):
    """In-process cache: fingerprint → (watermark_ns, arrow state, schema).

    The test/dev cache (reference ``MemoryQueryCache``, ``src/cache.rs:52``).
    State crosses the JVM↔Python boundary via Arrow on both put and get —
    fine for the one-row-per-group state frames this holds; use
    :class:`ParquetQueryCache` when state is large.
    """

    def __init__(self, max_entries: Optional[int] = None) -> None:
        from collections import OrderedDict

        #: insertion/access-ordered: first = least recently used. The
        #: fingerprint includes every literal (SURVEY §4.4.3 — `value>1`
        #: and `value>2` are separate entries by design), so a standing
        #: session serving ad-hoc dashboards accumulates entries without
        #: bound unless capped (r9 verdict item 3). ``None`` = unbounded.
        self._store: "OrderedDict[str, Tuple[int, object, object]]" = OrderedDict()
        self._tags: Dict[str, Dict[str, str]] = {}
        self._lock = threading.Lock()
        self.max_entries = max_entries

    def entry(self, fingerprint: str) -> CacheEntry:
        return _MemoryEntry(self, fingerprint)

    def _touch(self, fingerprint: str) -> None:
        """Mark ``fingerprint`` most-recently-used (reads and writes)."""
        with self._lock:
            if fingerprint in self._store:
                self._store.move_to_end(fingerprint)

    def _store_put(self, fingerprint: str, value) -> None:
        """Insert/overwrite as most-recently-used, then enforce the LRU cap
        (plain dict assignment would NOT refresh recency on overwrite)."""
        with self._lock:
            self._store[fingerprint] = value
            self._store.move_to_end(fingerprint)
            self._evict_over_cap()

    def _evict_over_cap(self) -> List[str]:
        """Evict least-recently-used entries past ``max_entries``. Called
        under ``self._lock`` by the put paths. An evicted fingerprint's
        next query self-heals as a plain miss (cold recompute + store)."""
        evicted: List[str] = []
        if self.max_entries is not None:
            while len(self._store) > self.max_entries:
                fp, _ = self._store.popitem(last=False)
                evicted.append(fp)
        return evicted

    def put_tag(self, fingerprint: str, key: str, value: str) -> None:
        with self._lock:
            self._tags.setdefault(key, {})[fingerprint] = value

    def tags(self, key: str) -> Dict[str, str]:
        with self._lock:
            return dict(self._tags.get(key, {}))

    def display(self) -> str:
        out = []
        for fp, (wm, pdf, _schema) in self._store.items():
            out.append(f"{fp[:80]}... wm={wm} rows={len(pdf)}")
        return "\n".join(out)

    def __len__(self) -> int:
        return len(self._store)


# ---------------------------------------------------------------------------


class _ParquetEntry(CacheEntry):
    def __init__(self, root: str, fingerprint: str):
        import hashlib

        self._fp = fingerprint
        self._dir = os.path.join(root, hashlib.sha256(fingerprint.encode()).hexdigest()[:24])
        self._meta: Optional[dict] = None
        #: the last tail table _write_tail_driver collected, finalize
        #: columns included (put_bucket_tail hands it to its caller)
        self._tail_arrow = None
        meta_path = os.path.join(self._dir, "meta.json")
        if os.path.exists(meta_path):
            try:
                with open(meta_path) as f:
                    self._meta = json.load(f)
                if self._meta.get("fingerprint") != fingerprint:
                    # hash-prefix collision: treat as vacant, do not clobber
                    self._meta = None
                    self._dir = self._dir + "-x"
            except (json.JSONDecodeError, OSError):
                self._meta = None
        if self._meta is not None:
            parts = self._meta.get("parts") or [self._meta.get("state", "")]
            if not all(os.path.isdir(os.path.join(self._dir, p)) for p in parts):
                # meta points at a missing/corrupted state dir (partial
                # cleanup, manual deletion): self-heal as vacant.
                self._meta = None

    @property
    def occupied(self) -> bool:
        return self._meta is not None

    @property
    def watermark_ns(self) -> Optional[int]:
        return self._meta["watermark_ns"] if self._meta else None

    def _state_paths(self) -> List[str]:
        parts = (
            self._meta.get("bparts")
            or self._meta.get("parts")
            or [self._meta["state"]]
        )
        return [os.path.join(self._dir, p) for p in parts]

    def _read_paths(self, spark: SparkSession, paths: List[str], sch=None) -> DataFrame:
        """Read state parts. Hive-partitioned parts (filter row-set state)
        are each their own partitioned root, so multiple parts must be read
        individually and unioned — Spark refuses sibling partitioned roots
        as one table (CONFLICTING_DIRECTORY_STRUCTURES). Partition pruning
        still applies inside every part's read."""
        rd = spark.read.schema(sch) if sch is not None else spark.read

        def one(p: str) -> DataFrame:
            df = rd.parquet(p)
            # hive-partitioned parts surface partition columns LAST even
            # under an explicit schema — restore the state-schema order
            if sch is not None and df.columns != sch.fieldNames():
                df = df.select(*sch.fieldNames())
            return df

        if len(paths) == 1:
            return one(paths[0])
        out = one(paths[0])
        for p in paths[1:]:
            out = out.unionByName(one(p))
        return out

    def _touch_access(self) -> None:
        """Bump the ``.accessed`` sidecar's mtime at most once per 60s —
        the sweep's last-access signal for read-only workloads whose
        meta.json never rewrites (pinned-now replays, pure hot reads).
        Rate-limited by the file's own mtime, so repeated hot reads cost
        one ``getmtime`` each, not a write."""
        if self._meta is None:
            return
        p = os.path.join(self._dir, ".accessed")
        try:
            if time.time() - os.path.getmtime(p) < 60.0:
                return
            os.utime(p, None)
        except OSError:
            try:
                with open(p, "w"):
                    pass
            except OSError:
                pass  # advisory only: never fail a read over a touch

    def _bucket_lo_value(self, iso: Optional[str]):
        """Parse a serialized layer bound back to the bucket column's
        Python type (DATE vs TIMESTAMP per the state schema) so the layer
        filter compares without casts — casts on the partition column
        would defeat directory pruning."""
        if iso is None:
            return None
        import datetime as _dt

        try:
            sch = json.loads(self._meta["schema"])
            bcol = self._meta.get("bucket_col")
            dtype = next(
                (f["type"] for f in sch["fields"] if f["name"] == bcol), ""
            )
        except Exception:
            dtype = ""
        if dtype == "date":
            return _dt.date.fromisoformat(iso[:10])
        return _dt.datetime.fromisoformat(iso)

    def _layered_state(self, spark: SparkSession) -> DataFrame:
        """Layered bucket-partitioned state (``bparts``): layer *i* serves
        buckets in ``[lo_i, lo_{i+1})`` (first layer unbounded below, last
        unbounded above) — newer layers shadow older ones bucket-wise, so
        an incremental refresh writes only the changed-bucket tail
        (:meth:`put_bucket_tail`) and this read reconstructs the full
        state with every range filter landing in PartitionFilters."""
        from pyspark.sql import functions as _F
        from pyspark.sql.types import StructType

        sch = StructType.fromJson(json.loads(self._meta["schema"]))
        bcol = self._meta["bucket_col"]
        parts = self._meta["bparts"]
        los = [self._bucket_lo_value(x) for x in self._meta["bparts_lo"]]
        out = None
        for i, p in enumerate(parts):
            df = self._read_paths(spark, [os.path.join(self._dir, p)], sch)
            lo = los[i]
            hi = los[i + 1] if i + 1 < len(los) else None
            if lo is not None:
                df = df.filter(_F.col(bcol) >= _F.lit(lo))
            if hi is not None:
                df = df.filter(_F.col(bcol) < _F.lit(hi))
            out = df if out is None else out.unionByName(df)
        return out

    def get(self, spark: SparkSession) -> DataFrame:
        # schema from meta.json → no parquet-footer inference at plan time
        self._touch_access()
        if self._meta is not None and self._meta.get("bparts"):
            return self._layered_state(spark)
        try:
            from pyspark.sql.types import StructType

            sch = StructType.fromJson(json.loads(self._meta["schema"]))
            return self._read_paths(spark, self._state_paths(), sch)
        except Exception:
            return self._read_paths(spark, self._state_paths())

    def state_columns(self) -> Optional[List[str]]:
        if self._meta is None:
            return None
        try:
            sch = json.loads(self._meta["schema"])
            return [f["name"] for f in sch["fields"]]
        except Exception:
            return None

    def state_schema(self):
        if self._meta is None:
            return None
        try:
            from pyspark.sql.types import StructType

            return StructType.fromJson(json.loads(self._meta["schema"]))
        except Exception:
            return None

    def state_rows(self) -> Optional[int]:
        return (self._meta or {}).get("rows")

    def verify_state_files(self, max_files: int = 64) -> bool:
        """Footer-check the state part files (see the base docstring).

        A parquet file's footer (magic + metadata length) is the last
        thing written; truncation or head-vandalism both break it, so
        ``pq.read_metadata`` failing ⇔ the scan would fail. Small states
        (≤ ``max_files`` files) footer-check everything per call. Big
        states (the 100 TB row-set / hour-bucketed layouts) verify
        PER LAYER against a digest sidecar inside each layer dir:

        * per verify: one stat walk (unavoidable floor for immediate
          in-place-vandalism detection) + one tiny ``.digest`` read per
          layer — no big JSON, no footer reads when nothing changed;
        * per refresh: layer dirs are immutable once written, so only the
          NEW tail layer footer-checks (the r13 entry-level manifest
          keyed on the layer SET and re-footer-checked the WHOLE state
          after every refresh — an O(full state) tail read per warm query
          that compounds at scale);
        * on a digest mismatch: the layer's ``.manifest.json`` name list
          distinguishes vandalism/vanish (→ False, self-heal) from
          benign growth (→ footer-check just that layer's files).
        """
        if self._meta is None:
            return True
        try:
            import hashlib

            import pyarrow.parquet as pq

            paths = self._state_paths()
            per_layer: List[Tuple[str, Dict[str, List[int]]]] = []
            total = 0
            for p in paths:
                files: Dict[str, List[int]] = {}
                cut = len(p.rstrip(os.sep)) + 1
                for r, _d, fs in os.walk(p):
                    for f in fs:
                        if f.endswith(".parquet"):
                            fp = os.path.join(r, f)
                            st = os.stat(fp)
                            files[fp[cut:]] = [st.st_size, st.st_mtime_ns]
                per_layer.append((p, files))
                total += len(files)
            if total <= max_files:
                for p, files in per_layer:
                    for rel in files:
                        pq.read_metadata(os.path.join(p, rel))
                return True
            for p, files in per_layer:
                digest = hashlib.sha256(
                    json.dumps(sorted(files.items())).encode()
                ).hexdigest()
                dpath = os.path.join(p, ".digest")
                try:
                    with open(dpath) as fh:
                        if fh.read().strip() == digest:
                            continue  # unchanged since its footer check
                except OSError:
                    pass
                man_path = os.path.join(p, ".manifest.json")
                try:
                    with open(man_path) as fh:
                        prev_names = set(json.load(fh).get("files", ()))
                except Exception:
                    prev_names = None
                if prev_names is not None and not prev_names <= set(files):
                    return False  # state file vanished underneath us
                for rel in files:
                    pq.read_metadata(os.path.join(p, rel))
                tmp = man_path + f".{uuid.uuid4().hex[:6]}.tmp"
                with open(tmp, "w") as fh:
                    json.dump({"files": sorted(files)}, fh)
                os.replace(tmp, man_path)
                tmp = dpath + f".{uuid.uuid4().hex[:6]}.tmp"
                with open(tmp, "w") as fh:
                    fh.write(digest)
                os.replace(tmp, dpath)
            return True
        except Exception:
            return False

    def state_df(self, spark: SparkSession) -> Optional[DataFrame]:
        if self._meta is None:
            return None
        return self.get(spark)

    def invalidate(self) -> bool:
        """Atomic: unlink meta.json first (readers instantly see vacant),
        then best-effort remove the state dirs."""
        if self._meta is None:
            return True
        try:
            os.unlink(os.path.join(self._dir, "meta.json"))
        except OSError:
            return False
        for p in (
            self._meta.get("bparts")
            or self._meta.get("parts")
            or [self._meta.get("state", "")]
        ):
            if p:
                shutil.rmtree(os.path.join(self._dir, p), ignore_errors=True)
        self._meta = None
        return True

    def state_parquet_paths(self) -> Optional[List[str]]:
        """Absolute parquet dirs holding the current state (None when
        vacant or layered)."""
        if self._meta is None:
            return None
        # layered state: raw path concat would double-count shadowed
        # buckets — callers must go through get() (range-filtered union)
        if self._meta.get("bparts"):
            return None
        self._touch_access()
        return self._state_paths()

    def get_arrow(self):
        if self._meta is None:
            return None
        # layered (bparts) state must only ever be read through
        # _layered_state's range-filtered union: a raw concat of layer dirs
        # would double-count buckets shadowed by newer layers. Explicit
        # invariant, not an assumption about the (best-effort) row count.
        if self._meta.get("bparts"):
            return None
        rows = self._meta.get("rows")
        if rows is None or rows > self.DRIVER_COLLECT_MAX_ROWS:
            return None
        self._touch_access()
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import StructType

            sch = StructType.fromJson(json.loads(self._meta["schema"]))
            tz = self._meta.get("bucket_tz")
            if tz is not None:
                # partitionBy(bucket) layout: the bucket lives only in the
                # directory names, rendered in the writer's session zone
                return self._written_arrow(
                    self._state_paths()[0], sch, self._meta["bucket_col"], tz
                )
            tabs = [pq.read_table(p) for p in self._state_paths()]
            tbl = pa.concat_tables(tabs) if len(tabs) > 1 else tabs[0]
            # cast to the exact arrow twin of the Spark state schema:
            # distributed-written parquet may round-trip timestamps at a
            # different unit/annotation than the driver-side Arrow write.
            # dense: an empty part file would leave an interior empty
            # chunk that truncates a later createDataFrame (dense_arrow)
            return dense_arrow(tbl.cast(to_arrow_schema(sch)))
        except Exception:
            return None

    #: Above this many state rows, stop collecting state through the driver
    #: and use a distributed write instead (the 100 TB / huge-cardinality
    #: path). Below it, the reference's own strategy — collect the state
    #: batches into memory (``src/aggregate.rs:595``) — is strictly faster:
    #: one Spark job, parquet written driver-side via Arrow, and the
    #: returned DataFrame is a LocalRelation (finalize needs no extra scan).
    #: When the state's size is unknown (a first put), :meth:`_big_state`
    #: bounds it by the input's parquet footer row count before any row
    #: moves, so a big cold aggregate runs once, straight into the
    #: distributed write.
    DRIVER_COLLECT_MAX_ROWS = 500_000

    def _big_state(self, state: DataFrame) -> bool:
        """Whether a put of ``state`` skips the driver collect: the stored
        row count decides when known; on a first put, the row count in the
        parquet footers of ``state.inputFiles()`` bounds the group count
        (one py4j call plus local footer reads, stopping once the sum
        passes the cap). An aggregate or filter has at most as many rows as
        its input. A join or generator can have more, but then the bound
        only keeps the bounded driver attempt, which overflows safely.

        Inputs with no parquet files (``range``, ``createDataFrame``), a
        footer that does not read, or a plan whose own row bound fits the
        cap (a top-k, a global aggregate) keep the bounded driver attempt.

        Wins perfbench ``big_state`` ``cold_vs_plain``: without the gate
        its cold load collected 500,001 Arrow rows, dropped them at the
        overflow and ran the scan and aggregate again for the distributed
        write. With it the median fell from 3.42 to 2.30 (4-core VM, 10
        interleaved pairs), and the traced cold load from 7 Spark jobs to
        5."""
        cap = self.DRIVER_COLLECT_MAX_ROWS
        prev_rows = (self._meta or {}).get("rows")
        if prev_rows is not None:
            return prev_rows > cap
        from urllib.parse import unquote, urlparse

        import pyarrow.parquet as pq
        from py4j.protocol import Py4JError

        try:
            plan_rows = state._jdf.queryExecution().analyzed().maxRows()
            if plan_rows.isDefined() and plan_rows.get() <= cap:
                return False
            total = 0
            for uri in state.inputFiles():
                url = urlparse(uri)
                if url.scheme not in ("", "file"):
                    return False
                total += pq.ParquetFile(unquote(url.path)).metadata.num_rows
                if total > cap:
                    return True
        except (OSError, ValueError, Py4JError):
            pass  # unreadable footer or plan: keep the bounded driver attempt
        return False

    def _written_arrow(self, path: str, sch, bcol: Optional[str], tz: str):
        """Read the state a distributed write just left at ``path`` into
        Arrow, typed as the Spark schema ``sch``. A ``partitionBy(bcol)``
        layout keeps the bucket only in its directory names, which Spark
        renders in the session time zone ``tz``. Returns None when a value
        does not parse back (a fixed-offset zone, an ambiguous local time);
        the caller then reads the files through Spark."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as _ds
        from pyspark.sql.pandas.types import to_arrow_schema

        try:
            target = to_arrow_schema(sch)
            part = (
                _ds.HivePartitioning(pa.schema([(bcol, pa.string())]))
                if bcol
                else None
            )
            tbl = _ds.dataset(
                path,
                format="parquet",
                partitioning=part,
                ignore_prefixes=_SPARK_MARKERS,
            ).to_table()
            if bcol:
                want = target.field(bcol).type
                vals = tbl.column(bcol)
                if pa.types.is_timestamp(want):
                    vals = vals.cast(pa.timestamp(want.unit))
                    if want.tz is not None:
                        vals = pc.assume_timezone(vals, tz)
                tbl = tbl.set_column(
                    tbl.schema.get_field_index(bcol), bcol, vals
                )
            return dense_arrow(tbl.select(target.names).cast(target))
        except (pa.ArrowException, KeyError, TypeError):
            return None

    def put(self, watermark_ns: int, state: DataFrame, spark: SparkSession) -> DataFrame:
        os.makedirs(self._dir, exist_ok=True)
        txid = f"state-{uuid.uuid4().hex[:12]}"
        path = os.path.join(self._dir, txid)
        cap = self.DRIVER_COLLECT_MAX_ROWS
        result: Optional[DataFrame] = None
        n_rows: Optional[int] = None
        bucket_tz: Optional[str] = None  # zone of a partitionBy(bucket) write
        if not self._big_state(state):
            try:
                import pyarrow.parquet as pq

                # bound the ACTUAL collect: an unknown state, or a refresh
                # window that explodes a small state's group count,
                # must spill to the distributed store, not OOM the driver.
                # The limit is safe for the fresh-rows Observation a warm
                # merge carries: the observe sits below the merge's groupBy
                # (a pipeline breaker), so the map stage always runs to
                # completion and the metric counts every fresh row however
                # few output groups the limit keeps.
                raw = state.limit(cap + 1).toArrow()
                if raw.num_rows > cap:
                    raise _DriverPutOverflow()
                tbl = _check_set_arrow(
                    _compact_hist_arrow(raw, self.hist_cap, self._fp),
                    self.set_cap, self._fp,
                )
                n_rows = tbl.num_rows
                os.makedirs(path, exist_ok=True)
                pq.write_table(tbl, os.path.join(path, "part-0.parquet"))
                # arrow direct — NOT via pandas, whose NaN-as-missing
                # sentinel would null out NaN aggregate values
                result = arrow_to_spark(spark, tbl, schema=state.schema)
            except StateCardinalityExceeded:
                raise  # must NOT fall through to an unchecked distributed store
            except Exception:
                shutil.rmtree(path, ignore_errors=True)
                result = None
        if result is None:
            # Distributed write — the 100 TB path. When the state carries a
            # temporal bucket key, lay it out partitionBy(bucket): one write
            # task per live bucket (the filter row-set precedent at
            # :meth:`append`), and temporally-bounded warm reads prune whole
            # bucket directories. Otherwise fall back to the reference's
            # CoalescePartitions-before-store shape
            # (``src/aggregate.rs:510-527``) — a single part file.
            bcol = self.bucket_col if self.bucket_col in state.columns else None
            if bcol:
                from pyspark.sql import functions as _F

                bucket_tz = spark.conf.get("spark.sql.session.timeZone")
                (
                    state.repartition(_F.col(bcol))
                    .write.mode("overwrite")
                    .partitionBy(bcol)
                    .parquet(path)
                )
            else:
                state.coalesce(1).write.mode("overwrite").parquet(path)
            # row count from parquet footers (local metadata read, no Spark
            # job): recording it lets the NEXT put choose its path on the
            # stored count alone, with no footer gate over its inputs.
            try:
                import pyarrow.dataset as _ds

                n_rows = _ds.dataset(
                    path, format="parquet", ignore_prefixes=_SPARK_MARKERS
                ).count_rows()
            except Exception:
                n_rows = None
            if n_rows is not None and n_rows <= cap:
                # the state fits the driver after all (a selective filter
                # over a big input): return a LocalRelation, as the driver
                # path does, so finalize does not rescan the files
                tbl = self._written_arrow(path, state.schema, bcol, bucket_tz)
                if tbl is not None:
                    try:
                        tbl = _check_set_arrow(
                            _compact_hist_arrow(tbl, self.hist_cap, self._fp),
                            self.set_cap, self._fp,
                        )
                    except StateCardinalityExceeded:
                        shutil.rmtree(path, ignore_errors=True)
                        raise
                    result = arrow_to_spark(spark, tbl, schema=state.schema)
            if result is None:
                # schema-pinned read: a hive-partitioned layout would
                # otherwise re-infer the bucket column's type from directory
                # strings; the select restores state-column order (partition
                # columns surface last even under an explicit schema)
                result = spark.read.schema(state.schema).parquet(path)
                if result.columns != state.schema.fieldNames():
                    result = result.select(*state.schema.fieldNames())
        self._swap_meta(
            watermark_ns, txid, state.schema.json(), n_rows, bucket_tz
        )
        return result

    #: Layer cap for the incremental bucket-tail store: past this many
    #: layers the caller's full put compacts the state back to one
    #: partitioned dir (read fan-in and shadowed-row garbage stay bounded
    #: — the append path's COMPACT_AT precedent).
    BPARTS_COMPACT_AT = 16

    def state_tag(self):
        m = self._meta
        if m is None or not m.get("bparts"):
            return None
        return (m["watermark_ns"], tuple(m["bparts"]))

    def put_bucket_tail(
        self,
        watermark_ns: int,
        merged: DataFrame,
        lo_value,
        spark: SparkSession,
        fin_cols: Optional[List[Column]] = None,
        ride: Optional[DataFrame] = None,
    ):
        """Incremental store-back for BIG bucket-partitioned aggregate
        state: persist only the merged TAIL (buckets ``>= lo_value`` — the
        fresh window's buckets, since every fresh row has ``ts >= wm`` and
        bucket truncation is monotone) as a new layer; earlier layers keep
        serving the untouched buckets below it via ranged, partition-pruned
        reads (:meth:`_layered_state`). Turns the warm refresh's write from
        O(full state) to O(changed buckets) — the LSM-style move that makes
        huge-cardinality standing dashboards viable at 100 TB.

        Returns the full (layered) state DataFrame, or None when
        inapplicable — small/unknown state, no bucket, non-temporal bucket
        type, or the layer cap reached (the caller's full put then
        compacts). With ``fin_cols``, the driver-side tail collect also
        computes those finalize columns, and the collected table (state
        columns, then ``fin_cols``, then ``__qc_ride``) is returned instead
        of the layered re-read; ``ride`` rows join that collect, in the
        same job, and are not stored. A tail that went to the distributed
        write still returns the DataFrame. The reference has no analogue:
        its store always rewrites the whole entry
        (``src/cache.rs:109-114``)."""
        import datetime as _dt

        from pyspark.sql import functions as _F

        bcol = self.bucket_col or (self._meta or {}).get("bucket_col")
        if not bcol or bcol not in merged.columns:
            return None
        if lo_value is None or not isinstance(lo_value, (_dt.datetime, _dt.date)):
            return None
        meta = self._meta
        prev_rows = (meta or {}).get("rows")
        if (
            meta is None
            or prev_rows is None
            or prev_rows <= self.DRIVER_COLLECT_MAX_ROWS
        ):
            return None  # small state: the driver-side full paths win
        if meta.get("bucket_col") not in (None, bcol):
            return None  # layout written for a different bucket
        old_parts = meta.get("bparts")
        old_los = meta.get("bparts_lo")
        if old_parts is None:
            if "state" not in meta or meta.get("parts"):
                return None  # row-set parts layout: not bucket-ranged
            old_parts, old_los = [meta["state"]], [None]
        # normalize the bound to the state column's type (date vs ts)
        try:
            from pyspark.sql.types import DateType, StructType, TimestampType

            sch = StructType.fromJson(json.loads(meta["schema"]))
            bt = next(f.dataType for f in sch.fields if f.name == bcol)
            if isinstance(bt, DateType):
                lo_value = (
                    lo_value.date()
                    if isinstance(lo_value, _dt.datetime)
                    else lo_value
                )
            elif isinstance(bt, TimestampType):
                if not isinstance(lo_value, _dt.datetime):
                    lo_value = _dt.datetime(
                        lo_value.year, lo_value.month, lo_value.day
                    )
            else:
                return None  # non-temporal bucket type: stay on full put
        except StopIteration:
            return None
        except Exception:
            return None
        lo_iso = (
            lo_value.isoformat(sep=" ")
            if isinstance(lo_value, _dt.datetime)
            else lo_value.isoformat()
        )
        # drop layers fully shadowed by the new bound (their whole range
        # is >= lo; metadata-only, BEFORE the cap decision); cap the rest
        # at lo implicitly via layer ordering
        surv: List[Tuple[str, Optional[str]]] = []
        dropped: List[str] = []
        for p, l in zip(old_parts, old_los):
            if l is not None and self._bucket_lo_value(l) >= lo_value:
                dropped.append(p)
                continue
            surv.append((p, l))
        # amortized compaction: at the layer cap, fold ONE adjacent pair of
        # tail layers into a single ranged layer inside this refresh —
        # bounded extra work instead of the r12 full-rewrite cliff (the
        # 16th refresh paid an O(full state) put() inline in a user query)
        if len(surv) + 1 > self.BPARTS_COMPACT_AT:
            folded = self._merge_layer_pair(surv, lo_iso, bcol, spark)
            if folded is None:
                return None  # no mergeable pair: caller's full put compacts
            surv, merged_away = folded
            dropped.extend(merged_away)
        os.makedirs(self._dir, exist_ok=True)
        txid = f"bpart-{uuid.uuid4().hex[:12]}"
        path = os.path.join(self._dir, txid)
        tail = merged.filter(_F.col(bcol) >= _F.lit(lo_value))
        collect = tail
        if fin_cols:
            collect = tail.select("*", *fin_cols, _F.lit(False).alias("__qc_ride"))
            if ride is not None:
                collect = collect.unionByName(
                    ride.select("*", *fin_cols, _F.lit(True).alias("__qc_ride"))
                )
        # small tail → driver-side Arrow write: the tail layer of a warm
        # refresh is O(changed buckets) rows even when the FULL state is
        # huge, and a toArrow collect + local hive-partitioned write skips
        # the Spark write job's shuffle + task-commit overhead (~0.6s/query
        # at sf0.1 hicard, the dominant warm cost). Estimate the tail from
        # footer counts: only the LAST surviving layer can hold live rows
        # >= lo (earlier layers' ranges are capped below it), so one local
        # metadata read bounds the old tail; new buckets add the same
        # order. Anything over the estimate cap — or any surprise — falls
        # back to the distributed partitionBy write (the 100 TB path).
        wrote = False
        try:
            est = (
                self._layer_count(surv[-1][0], bcol, lo_iso, None)
                if surv
                else 0
            )
            cap = self.DRIVER_COLLECT_MAX_ROWS // 2
            if est <= cap:
                # the estimate sees OLD state only (fresh-delta bucket
                # cardinality is unknown here) — a burst refresh after a
                # long gap can dwarf it, so the write itself re-bounds
                # the ACTUAL collect via limit(cap+1) and aborts to the
                # distributed path when the tail outgrows the cap
                wrote = self._write_tail_driver(collect, bcol, path, cap)
        except Exception:
            wrote = False
        if not wrote:
            (
                tail.repartition(_F.col(bcol))
                .write.mode("overwrite")
                .partitionBy(bcol)
                .parquet(path)
            )
        parts: List[str] = [p for p, _ in surv]
        los: List[Optional[str]] = [l for _, l in surv]
        parts.append(txid)
        los.append(lo_iso)
        # live row count: per-layer footer counts restricted to each
        # layer's range (partition-field filters — a local metadata-plus-
        # stats read, no Spark job). pyarrow infers hive partition values
        # as STRINGS; ISO renderings compare lexicographically in time
        # order, so string-typed fields get the serialized bounds and
        # real-typed fields (data-column layers) get the Python values.
        # Falls back to the previous count on any surprise.
        n_rows: Optional[int] = prev_rows
        try:
            total = 0
            for i, p in enumerate(parts):
                hi_i = los[i + 1] if i + 1 < len(los) else None
                total += self._layer_count(p, bcol, los[i], hi_i)
            n_rows = total
        except Exception:
            pass
        new_meta = {
            "fingerprint": self._fp,
            "watermark_ns": watermark_ns,
            "bparts": parts,
            "bparts_lo": los,
            "bucket_col": bcol,
            "schema": meta["schema"],
            "rows": n_rows,
            "written_at": time.time(),
        }
        tmp = os.path.join(self._dir, f".meta-{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            json.dump(new_meta, f)
        os.replace(tmp, os.path.join(self._dir, "meta.json"))  # atomic swap
        self._meta = new_meta
        for p in dropped:
            shutil.rmtree(os.path.join(self._dir, p), ignore_errors=True)
        if fin_cols and wrote:
            return self._tail_arrow
        return self.get(spark)

    def _write_tail_driver(
        self, tail: DataFrame, bcol: str, path: str, cap: int
    ) -> bool:
        """Collect a SMALL tail layer through the driver and write it as a
        hive-partitioned parquet dir locally (one file per bucket), matching
        the layout of the distributed ``partitionBy`` write byte-for-byte at
        the reader: :meth:`_read_paths` supplies the state schema explicitly,
        so Spark casts the ``bcol=...`` dir names back to the declared
        bucket type either way. Applies the same histogram/set state caps as
        the driver-side full :meth:`put`. Only the stored schema's columns
        are written; any after them are finalize columns riding the same
        collect, and rows marked ``__qc_ride`` are not written. The whole
        collected table is left in ``_tail_arrow``. Returns False (caller
        falls back to the distributed write) on any surprise.

        The collect is bounded by the ACTUAL tail, not the caller's
        estimate: ``limit(cap + 1)`` caps what ever reaches the driver
        (CollectLimit short-circuits — Spark stops producing once the
        limit fills), and ``num_rows > cap`` detects the overflow row and
        aborts to the distributed write. An estimate-only gate could let
        a burst refresh (first query after a long ingest gap) collect an
        unbounded Arrow table and OOM the driver with no exception for
        the fallback to catch (r15 advice)."""
        import pyarrow.dataset as _ds

        collected = tail.limit(cap + 1).toArrow()
        if collected.num_rows > cap:
            return False  # tail outgrew the estimate: distributed write
        n_state = len(json.loads(self._meta["schema"])["fields"])
        tbl = collected.select(list(range(n_state)))
        if "__qc_ride" in collected.column_names:
            import pyarrow.compute as _pc

            tbl = tbl.filter(_pc.invert(collected.column("__qc_ride")))
        tbl = _check_set_arrow(
            _compact_hist_arrow(tbl, self.hist_cap, self._fp),
            self.set_cap,
            self._fp,
        )
        os.makedirs(path, exist_ok=True)  # empty tail → empty (valid) layer
        if tbl.num_rows:
            _ds.write_dataset(
                tbl,
                path,
                format="parquet",
                partitioning=_ds.partitioning(
                    tbl.schema.empty_table().select([bcol]).schema,
                    flavor="hive",
                ),
                existing_data_behavior="overwrite_or_ignore",
            )
        self._tail_arrow = collected
        return True

    def _layer_count(self, part: str, bcol: str, lo_iso, hi_iso) -> int:
        """Footer row count of one layer dir restricted to ``[lo, hi)`` —
        a local metadata+stats read, no Spark job. pyarrow infers hive
        partition values as STRINGS; ISO renderings compare
        lexicographically in time order, so string-typed fields get the
        serialized bounds and real-typed fields the Python values."""
        import pyarrow as _pa
        import pyarrow.compute as _pc
        import pyarrow.dataset as _ds

        path = os.path.join(self._dir, part)
        kw = dict(format="parquet", ignore_prefixes=_SPARK_MARKERS)
        try:
            dset = _ds.dataset(path, partitioning="hive", **kw)
            dset.schema.field(bcol)
        except Exception:
            dset = _ds.dataset(path, **kw)
        as_str = _pa.types.is_string(dset.schema.field(bcol).type)

        def bound(iso):
            return iso if as_str else self._bucket_lo_value(iso)

        flt = None
        if lo_iso is not None:
            flt = _pc.field(bcol) >= bound(lo_iso)
        if hi_iso is not None:
            c = _pc.field(bcol) < bound(hi_iso)
            flt = c if flt is None else (flt & c)
        return dset.count_rows(filter=flt)

    def _merge_layer_pair(self, surv, new_lo_iso, bcol, spark):
        """Amortized layered-store compaction: fold ONE adjacent pair of
        tail layers into a single ranged layer, keeping the layer count at
        the cap with bounded extra work per refresh — never the unbounded
        base layer (index 0), whose rewrite would be the O(full state)
        latency cliff this replaces. Picks the pair with the smallest
        combined live row count (footer counts; falls back to the last
        pair). Returns ``(new survivors, dirs to delete)`` or None when no
        pair qualifies (fewer than 3 layers)."""
        from pyspark.sql import functions as _F
        from pyspark.sql.types import StructType

        if len(surv) < 3:
            return None
        parts = [p for p, _ in surv]
        los = [l for _, l in surv]
        # effective hi of layer i is layer i+1's lo; the last old layer is
        # capped by the NEW tail's bound (appended in the same meta swap)
        his = los[1:] + [new_lo_iso]
        small = False
        try:
            counts = [
                self._layer_count(p, bcol, los[i], his[i])
                for i, p in enumerate(parts)
            ]
            best = min(
                range(1, len(parts) - 1), key=lambda i: counts[i] + counts[i + 1]
            )
            small = (
                counts[best] + counts[best + 1] <= self.DRIVER_COLLECT_MAX_ROWS
            )
        except Exception:
            best = len(parts) - 2
        sch = StructType.fromJson(json.loads(self._meta["schema"]))

        def ranged(i: int) -> DataFrame:
            df = self._read_paths(
                spark, [os.path.join(self._dir, parts[i])], sch
            )
            lo = self._bucket_lo_value(los[i])
            hi = self._bucket_lo_value(his[i])
            if lo is not None:
                df = df.filter(_F.col(bcol) >= _F.lit(lo))
            if hi is not None:
                df = df.filter(_F.col(bcol) < _F.lit(hi))
            return df

        os.makedirs(self._dir, exist_ok=True)
        mtx = f"bpart-{uuid.uuid4().hex[:12]}"
        merged_pair = ranged(best).unionByName(ranged(best + 1))
        # tail layers are usually tiny: below the driver-collect bound a
        # single write task beats a per-bucket shuffle (partitionBy still
        # splits the output into per-bucket dirs for pruned reads); big
        # pairs keep the distributed one-task-per-bucket layout
        merged_pair = (
            merged_pair.coalesce(1)
            if small
            else merged_pair.repartition(_F.col(bcol))
        )
        (
            merged_pair.write.mode("overwrite")
            .partitionBy(bcol)
            .parquet(os.path.join(self._dir, mtx))
        )
        merged_away = [parts[best], parts[best + 1]]
        out = surv[:best] + [(mtx, los[best])] + surv[best + 2 :]
        return out, merged_away

    def layer_count(self) -> int:
        """Number of layers of a layered (``bparts``) state — 0 when vacant
        or unlayered. The maintainer's compaction gate."""
        return len((self._meta or {}).get("bparts") or ())

    def compact(self, spark: SparkSession) -> bool:
        """Fold a layered (``bparts``) state back into ONE partitioned dir
        — the maintainer-facing FULL compaction, for running off the user
        query path (e.g. per maintainer micro-batch). Returns False when
        the entry is vacant or not layered."""
        meta = self._meta
        if meta is None or not meta.get("bparts"):
            return False
        self.bucket_col = meta.get("bucket_col") or self.bucket_col
        state = self.get(spark)
        self.put(meta["watermark_ns"], state, spark)
        return True

    def _swap_meta(
        self,
        watermark_ns: int,
        txid: str,
        schema_json: str,
        n_rows: Optional[int],
        bucket_tz: Optional[str] = None,
    ) -> None:
        meta = {
            "fingerprint": self._fp,
            "watermark_ns": watermark_ns,
            "state": txid,
            "schema": schema_json,
            "rows": n_rows,
            "written_at": time.time(),
        }
        if self.bucket_col:
            # recorded so the layered tail store (put_bucket_tail) and its
            # ranged read know the bucket column without re-arming
            meta["bucket_col"] = self.bucket_col
        if bucket_tz is not None:
            # the state dir is partitionBy(bucket_col): get_arrow parses
            # its directory names back in the zone they were written in
            meta["bucket_tz"] = bucket_tz
        tmp = os.path.join(self._dir, f".meta-{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        old = self._meta
        os.replace(tmp, os.path.join(self._dir, "meta.json"))  # atomic swap
        self._meta = meta
        if old:
            for p in (
                old.get("bparts") or old.get("parts") or [old.get("state", "")]
            ):
                if p and p != txid:
                    shutil.rmtree(os.path.join(self._dir, p), ignore_errors=True)

    def put_split(
        self,
        watermark_ns: int,
        augmented: DataFrame,
        state_cols: List[str],
        state_schema,
        spark: SparkSession,
        fresh_rows_cb=None,
    ):
        if self._big_state(augmented):
            return None  # big state, known or footer-bounded: distributed put
        import pyarrow.parquet as pq

        # the ONE job over the data — bounded: a cardinality burst must
        # overflow to the caller's re-plan, not materialize driver-side
        # first. Safe for the Observation (see :meth:`put`): the observe
        # sits below the merge's groupBy, so the map stage always
        # completes and the metric is the full fresh count.
        tbl = augmented.limit(self.DRIVER_COLLECT_MAX_ROWS + 1).toArrow()
        if tbl.num_rows > self.DRIVER_COLLECT_MAX_ROWS:
            return None  # state outgrew the driver path; caller re-plans
        fresh_rows = fresh_rows_cb() if fresh_rows_cb is not None else None
        if fresh_rows == 0 and self._meta is not None and "state" in self._meta:
            # empty refresh window ⇒ merged state ≡ stored state (merge of
            # compacted state with nothing is the identity): advance the
            # watermark only, skip the rewrite.
            self._swap_meta(
                watermark_ns,
                self._meta["state"],
                self._meta["schema"],
                self._meta.get("rows"),
                self._meta.get("bucket_tz"),
            )
            return tbl
        os.makedirs(self._dir, exist_ok=True)
        txid = f"state-{uuid.uuid4().hex[:12]}"
        path = os.path.join(self._dir, txid)
        os.makedirs(path, exist_ok=True)
        pq.write_table(
            _check_set_arrow(
                _compact_hist_arrow(
                    tbl.select(list(state_cols)), self.hist_cap, self._fp
                ),
                self.set_cap, self._fp,
            ),
            os.path.join(path, "part-0.parquet"),
        )
        self._swap_meta(watermark_ns, txid, state_schema.json(), tbl.num_rows)
        return tbl

    def put_arrow(self, watermark_ns: int, state_tbl, state_schema) -> bool:
        import pyarrow.parquet as pq

        os.makedirs(self._dir, exist_ok=True)
        txid = f"state-{uuid.uuid4().hex[:12]}"
        path = os.path.join(self._dir, txid)
        os.makedirs(path, exist_ok=True)
        state_tbl = _check_set_arrow(
            _compact_hist_arrow(state_tbl, self.hist_cap, self._fp),
            self.set_cap, self._fp,
        )
        pq.write_table(state_tbl, os.path.join(path, "part-0.parquet"))
        self._swap_meta(watermark_ns, txid, state_schema.json(), state_tbl.num_rows)
        return True

    def advance_watermark(self, watermark_ns: int) -> bool:
        if self._meta is None or not (
            "state" in self._meta or "bparts" in self._meta or "parts" in self._meta
        ):
            return False
        # state content is provably unchanged: rewrite meta only,
        # preserving whatever layout (single state / parts / bparts) holds
        meta = dict(self._meta)
        meta["watermark_ns"] = watermark_ns
        meta["written_at"] = time.time()
        tmp = os.path.join(self._dir, f".meta-{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(self._dir, "meta.json"))
        self._meta = meta
        return True

    def append(
        self,
        watermark_ns: int,
        fresh: DataFrame,
        spark: SparkSession,
        partition_cols: Optional[List[str]] = None,
        replace: bool = False,
    ) -> DataFrame:
        """Row-set append: write ``fresh`` as a NEW part and swap meta —
        refresh cost is O(new rows), not O(state). Compacts into one part
        when the part list grows past a threshold, so read fan-in stays
        bounded (the reference's uncompacted batch growth, SURVEY §3.3,
        with a bound).

        With ``partition_cols`` (the filter cache passes the temporal date)
        every part — and the compacted rewrite — is written
        ``partitionBy(date)``: the row-set state is big data at 100×, and a
        date-partitioned layout means any temporally-bounded read of it
        (semantic-donor replays, downstream incremental consumers) prunes
        whole directories instead of scanning the full set."""
        COMPACT_AT = 16
        os.makedirs(self._dir, exist_ok=True)
        txid = f"part-{uuid.uuid4().hex[:12]}"
        path = os.path.join(self._dir, txid)
        # replace=True: a full recompute over an occupied-but-invalid entry
        # must NOT retain old parts (the meta swap below deletes them)
        old_parts = (
            (self._meta.get("parts") or [self._meta["state"]])
            if self._meta and not replace
            else []
        )

        def write(df: DataFrame, pth: str) -> None:
            if partition_cols:
                from pyspark.sql import functions as _F

                # one task per live partition value writes its directory —
                # no single-task bottleneck, no tiny-file explosion
                w = df.repartition(*[_F.col(c) for c in partition_cols])
                w.write.mode("overwrite").partitionBy(*partition_cols).parquet(pth)
            else:
                df.coalesce(1).write.mode("overwrite").parquet(pth)

        if len(old_parts) + 1 > COMPACT_AT:
            merged = self._read_paths(
                spark, [os.path.join(self._dir, p) for p in old_parts]
            ).unionByName(fresh)
            write(merged, path)
            parts = [txid]
        else:
            write(fresh, path)
            parts = old_parts + [txid]
        # cumulative row count from parquet footers (local metadata read, no
        # Spark job) — lets the session enforce filter_state_max_rows. Also
        # prunes an empty NEW part (a zero-row refresh window under
        # partitionBy writes a file-less dir that breaks schema inference):
        # the watermark still advances via meta.
        n_rows: Optional[int] = None
        try:
            import pyarrow.dataset as _ds

            def _count(p: str) -> int:
                # ignore_prefixes: defaults hide EVERY '_'-prefixed path —
                # including the `__qc_d=...` hive dirs themselves. Hide only
                # Spark's commit markers.
                return _ds.dataset(
                    os.path.join(self._dir, p),
                    format="parquet",
                    ignore_prefixes=_SPARK_MARKERS,
                ).count_rows()

            if txid in parts and _count(txid) == 0 and len(parts) > 1:
                parts = [p for p in parts if p != txid]
                shutil.rmtree(path, ignore_errors=True)
            n_rows = sum(_count(p) for p in parts)
        except Exception:
            pass
        meta = {
            "fingerprint": self._fp,
            "watermark_ns": watermark_ns,
            "parts": parts,
            "schema": fresh.schema.json(),
            "rows": n_rows,
            "written_at": time.time(),
        }
        tmp = os.path.join(self._dir, f".meta-{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        old = self._meta
        os.replace(tmp, os.path.join(self._dir, "meta.json"))
        self._meta = meta
        if old:
            for p in old.get("parts") or [old.get("state", "")]:
                if p and p not in parts:
                    shutil.rmtree(os.path.join(self._dir, p), ignore_errors=True)
        return self._read_paths(
            spark,
            [os.path.join(self._dir, p) for p in parts],
            fresh.schema,
        )


@dataclass
class EntryInfo:
    fingerprint: str
    watermark_ns: Optional[int]
    rows: Optional[int]
    written_at: Optional[float]
    path: Optional[str] = None


class ParquetQueryCache(QueryCache):
    """Durable cache: one directory per fingerprint hash under ``root``.

    Layout: ``root/<sha256[:24]>/{meta.json, state-<txid>/part-*.parquet}``.
    ``meta.json`` is swapped atomically (``os.replace``) after the new state
    dir is fully written → readers never see a partial state; concurrent
    writers race last-write-wins like the reference (``src/cache.rs:110-113``).
    On a real cluster ``root`` lives on a shared filesystem / object store via
    the same path-based API.
    """

    def __init__(
        self,
        root: str,
        ttl_s: Optional[float] = None,
        max_bytes: Optional[int] = None,
        sweep_interval_s: float = 300.0,
    ):
        self.root = root
        #: Evict entries not accessed (read OR refreshed) within this many
        #: seconds. The fingerprint includes every literal (SURVEY §4.4.3),
        #: so a standing deployment serving ad-hoc dashboards accumulates
        #: entries without bound unless swept (r9 verdict item 3 — the
        #: reference has the same unbounded growth, ``src/cache.rs:52-56``).
        self.ttl_s = ttl_s
        #: Byte budget across ALL entries: past it, least-recently-accessed
        #: entries evict first until under budget.
        self.max_bytes = max_bytes
        #: Opportunistic sweeps (piggybacked on ``entry()``) run at most
        #: this often; a real deployment also runs ``sweep()`` as scheduled
        #: maintenance alongside ``vacuum()``.
        self.sweep_interval_s = sweep_interval_s
        self._last_sweep = 0.0
        os.makedirs(root, exist_ok=True)

    def entry(self, fingerprint: str) -> CacheEntry:
        self._maybe_sweep()
        return _ParquetEntry(self.root, fingerprint)

    def _maybe_sweep(self) -> None:
        if self.ttl_s is None and self.max_bytes is None:
            return
        now = time.monotonic()
        if now - self._last_sweep < self.sweep_interval_s:
            return
        self._last_sweep = now
        try:
            self.sweep()
        except OSError:
            pass  # maintenance must never fail a query

    def sweep(
        self, ttl_s: Optional[float] = None, max_bytes: Optional[int] = None
    ) -> List[str]:
        """Fingerprint-level eviction: drop whole entries by last-access TTL,
        then least-recently-accessed-first until under the byte budget.

        Last access = the newer of ``meta.json``'s mtime (bumped by every
        refresh/watermark swap) and the ``.accessed`` sidecar (bumped at
        most once a minute by reads — see ``_ParquetEntry._touch_access``).
        A concurrent reader of an evicted entry self-heals as a miss: the
        entry constructor treats a missing state dir as vacant and the next
        query recomputes cold (same guarantee as corruption recovery).
        Returns removed entry-dir names."""
        ttl = ttl_s if ttl_s is not None else self.ttl_s
        budget = max_bytes if max_bytes is not None else self.max_bytes
        removed: List[str] = []
        now = time.time()
        survivors: List[Tuple[float, int, str, str]] = []
        for d in os.listdir(self.root):
            full = os.path.join(self.root, d)
            if not os.path.isdir(full):
                continue  # _tags_*.json and friends are not entries
            meta_path = os.path.join(full, "meta.json")
            if not os.path.exists(meta_path):
                continue  # orphan dirs belong to vacuum(), not the sweep
            try:
                last = os.path.getmtime(meta_path)
            except OSError:
                continue
            try:
                last = max(last, os.path.getmtime(os.path.join(full, ".accessed")))
            except OSError:
                pass
            size = 0
            for r, _dirs, fs in os.walk(full):
                for f in fs:
                    try:
                        size += os.path.getsize(os.path.join(r, f))
                    except OSError:
                        pass
            if ttl is not None and now - last > ttl:
                shutil.rmtree(full, ignore_errors=True)
                removed.append(d)
                continue
            survivors.append((last, size, full, d))
        if budget is not None:
            total = sum(s for _l, s, _f, _d in survivors)
            for last, size, full, d in sorted(survivors):
                if total <= budget:
                    break
                shutil.rmtree(full, ignore_errors=True)
                total -= size
                removed.append(d)
        return removed

    def _tags_path(self, key: str) -> str:
        safe = "".join(c if c.isalnum() or c in "-_" else "_" for c in key)
        return os.path.join(self.root, f"_tags_{safe}.json")

    def put_tag(self, fingerprint: str, key: str, value: str) -> None:
        # read-modify-replace; atomic swap like meta.json. Tag writes race
        # last-write-wins per key file — acceptable for the advisory
        # metadata these carry (a lost tag only costs a semantic-hit
        # opportunity, never correctness).
        path = self._tags_path(key)
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            data = {}
        data[fingerprint] = value
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(data, f)
        os.replace(tmp, path)

    def tags(self, key: str) -> Dict[str, str]:
        try:
            with open(self._tags_path(key)) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return {}

    def vacuum(self, grace_s: float = 3600.0) -> List[str]:
        """Delete crash leftovers: ``state-*`` dirs no entry's meta
        references and stale ``.meta-*.tmp`` files.

        The atomic-swap commit (write new state dir → replace meta →
        delete old dir) can be interrupted after the first or before the
        last step, stranding orphan state dirs that a long-running
        deployment accumulates as disk leakage. Anything younger than
        ``grace_s`` is skipped so a writer mid-commit (state written, meta
        swap pending) is never raced — at 100 TB this runs as periodic
        maintenance alongside the refresh jobs. Returns removed paths
        (root-relative)."""
        removed: List[str] = []
        now = time.time()
        for fp_dir in os.listdir(self.root):
            full = os.path.join(self.root, fp_dir)
            if not os.path.isdir(full):
                continue
            live: set = set()
            try:
                with open(os.path.join(full, "meta.json")) as f:
                    m = json.load(f)
                live = set(m.get("parts") or [m.get("state", "")])
            except (OSError, json.JSONDecodeError):
                pass  # vacant/corrupt entry: every state dir is an orphan
            for name in os.listdir(full):
                sub = os.path.join(full, name)
                stale_tmp = name.startswith(".meta-") and name.endswith(".tmp")
                orphan = (
                    name.startswith("state-")
                    and name not in live
                    and os.path.isdir(sub)
                )
                if not (stale_tmp or orphan):
                    continue
                try:
                    if now - os.path.getmtime(sub) < grace_s:
                        continue
                except OSError:
                    continue
                if orphan:
                    shutil.rmtree(sub, ignore_errors=True)
                else:
                    try:
                        os.remove(sub)
                    except OSError:
                        continue
                removed.append(os.path.join(fp_dir, name))
        return removed

    def entries(self) -> List[EntryInfo]:
        """Inventory of live entries (the reference's ``display()``,
        ``src/cache.rs:138-170``, as structured data)."""
        out: List[EntryInfo] = []
        for d in sorted(os.listdir(self.root)):
            meta_path = os.path.join(self.root, d, "meta.json")
            try:
                with open(meta_path) as f:
                    m = json.load(f)
                out.append(
                    EntryInfo(
                        fingerprint=m.get("fingerprint", "?"),
                        watermark_ns=m.get("watermark_ns"),
                        rows=m.get("rows"),
                        written_at=m.get("written_at"),
                        path=os.path.join(self.root, d),
                    )
                )
            except (OSError, json.JSONDecodeError):
                continue
        return out

    def clear(self, older_than_seconds: Optional[float] = None) -> int:
        """Drop entries (all, or only those not refreshed within the window).
        Returns the number removed. Concurrent readers of a removed entry
        self-heal as a miss (same guarantee as corruption recovery)."""
        removed = 0
        cutoff = time.time() - older_than_seconds if older_than_seconds else None
        for info in self.entries():
            if cutoff is not None and (info.written_at or 0) >= cutoff:
                continue
            shutil.rmtree(info.path, ignore_errors=True)
            removed += 1
        return removed
