"""Standing dashboard panels, the two workloads, and the closed-loop
runner that drives them: one client, each query sent after the previous
one returned."""

from __future__ import annotations

import gc
import json
import os
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from .fixture import BIG_TABLE, DAY, Schedule, dir_bytes
from .oracle import same_result, ts_literal


@dataclass(frozen=True)
class Panel:
    """A standing query. ``template`` takes the schedule's literals plus
    ``{asof}`` (empty for the cached query, ``AND ts < <now>`` for the
    oracle) and ``{lo}`` (the dynamic lower bound: ``now() - INTERVAL n
    DAY`` for the cached query, that instant as a literal for the oracle).
    ``dyn_days`` is a day count or the name of the literal that holds it."""

    name: str
    template: str
    dyn_days: object = None

    def _days(self, lits) -> Optional[int]:
        d = self.dyn_days
        return lits[d] if isinstance(d, str) else d

    def sql(self, lits: dict) -> str:
        days = self._days(lits)
        lo = f"now() - INTERVAL {days} DAY" if days else ""
        return self.template.format(asof="", lo=lo, **lits)

    def oracle_sql(self, lits: dict, now_ns: int) -> str:
        days = self._days(lits)
        lo = ts_literal(now_ns - days * DAY) if days else ""
        return self.template.format(asof=f" AND ts < {ts_literal(now_ns)}", lo=lo, **lits)


SMALL_PANELS = (
    Panel(
        "flagship",
        "SELECT date_trunc('hour', ts) AS bucket, avg(value) AS avg_value, "
        "min(value) AS min_value, max(value) AS max_value, count(*) AS n "
        "FROM events WHERE event_type = '{flag_type}' "
        "AND ts > TIMESTAMP '2024-01-{flag_from_day:02d}'{asof} "
        "GROUP BY bucket ORDER BY bucket DESC",
    ),
    Panel(
        "daily_window",
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n "
        "FROM events WHERE ts > {lo}{asof} GROUP BY 1",
        dyn_days="dyn_days",
    ),
    Panel(
        "topk",
        "SELECT event_id, value FROM events WHERE event_type = '{topk_type}'{asof} "
        "ORDER BY value DESC, event_id LIMIT {topk_k}",
    ),
    Panel(
        "moving_avg",
        "SELECT dd, n, round(avg(n) OVER (ORDER BY dd ROWS BETWEEN 6 PRECEDING "
        "AND CURRENT ROW) + 1e-9, 2) AS ma7 FROM (SELECT CAST(date_trunc('day', ts) "
        "AS DATE) AS dd, count(*) AS n FROM events "
        "WHERE event_type <> '{ma_skip_type}'{asof} GROUP BY 1) t ORDER BY dd",
    ),
)

BIG_PANELS = (
    # more than 500k state rows: the distributed, layered state store
    Panel(
        "hicard_25d",
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, event_id % 24989 AS k, "
        f"count(*) AS n FROM {BIG_TABLE} "
        "WHERE ts > {lo}{asof} GROUP BY 1, 2 "
        "ORDER BY n DESC, dd, k LIMIT 100",
        dyn_days=25,
    ),
)


@dataclass(frozen=True)
class Workload:
    name: str
    panels: Tuple[Panel, ...]
    #: the partition-column map the cache is configured with
    partition_columns: Dict[str, str] = field(default_factory=dict)
    #: refreshes in the untimed warm-up pass that opens every run, with
    #: their hot reloads: the JIT speeds a small_dashboard refresh up over
    #: its first four, a big_state one over its first two
    warmup_refreshes: int = 4
    #: measured cold loads at the end of a run, each on an empty cache. On
    #: small_dashboard the median of two evens out the first one, which
    #: still pays for compiling the cold path; a big cold load is dominated
    #: by its Spark jobs
    cold_loads: int = 1


WORKLOADS = {
    "small_dashboard": Workload("small_dashboard", SMALL_PANELS, cold_loads=2),
    "big_state": Workload("big_state", BIG_PANELS, {"ts": "d"}, warmup_refreshes=2),
}


@dataclass
class OpRecord:
    kind: str  # cold | refresh | hot
    panel: str
    now_ns: int
    load: int  # ops of one dashboard load (every panel, in turn) share it
    measured: bool
    checked: bool = True  # compared with the oracle (else: failed only if it raised)
    traced: bool = False
    wall_s: float = 0.0
    ok: bool = False
    plain_s: Optional[float] = None  # the oracle's own wall time, when it ran
    error: Optional[str] = None
    layers: Optional[dict] = None  # per-layer figures of a traced op
    plain_layers: Optional[dict] = None  # same, for the oracle query
    rows: Optional[list] = None  # the result, until it is checked


#: refresh tiers counted on their own; ``tier_other`` counts any other
#: named tier (the filter tiers: ``topk``, ``rowset``, ``full_outer``)
NAMED_TIERS = ("nano", "lite", "template", "classic")


def tier_counts(decision) -> Dict[str, float]:
    """One op's cached share and its tier counts. A cached op counts once:
    under its ``refresh_tier``, ``tier_other``, or ``tier_none`` when no
    refresh tier served it (a cold store, or a reload of stored state), so
    the tier counts add up to ``cached_frac``."""
    cached = bool(decision and decision.cached)
    tier = (decision.refresh_tier or "") if cached else ""
    out = {f"session.tier_{t}": float(tier == t) for t in NAMED_TIERS}
    out["session.tier_other"] = float(cached and tier not in NAMED_TIERS and tier != "")
    out["session.tier_none"] = float(cached and tier == "")
    out["session.cached_frac"] = float(cached)
    return out


def cache_stats(root: str) -> Tuple[int, int]:
    """(state rows, most layers of any entry) from the entries' meta.json."""
    rows = layers = 0
    for d in os.listdir(root) if os.path.isdir(root) else ():
        try:
            with open(os.path.join(root, d, "meta.json")) as f:
                meta = json.load(f)
        except (OSError, ValueError):
            continue
        rows += meta.get("rows") or 0
        layers = max(layers, len(meta.get("bparts") or ()))
    return rows, layers


class Runner:
    """Drives one run: every load runs each panel in turn through
    ``CachedSparkSession.sql(q).collect()``, then checks it against plain
    Spark over the same as-of data. The standing cache lives for the whole
    run; a cold load gets a new session on an empty cache directory."""

    def __init__(self, eng, spark, wl: Workload, sched: Schedule, scratch: str, tracer=None):
        self.eng, self.spark, self.wl, self.sched = eng, spark, wl, sched
        self.scratch = scratch
        self.tracer = tracer
        self.records: List[OpRecord] = []
        self.roots = self.loads = 0
        #: oracle results of the current ``now``, per panel
        self.expected: Dict[str, list] = {}
        self.expected_now: Optional[int] = None
        #: bytes under the standing cache after the first measured refresh
        self.state_bytes: Optional[int] = None
        #: wall seconds of each phase of the run
        self.phases: Dict[str, float] = {}

    def session(self, now: int):
        root = os.path.join(self.scratch, f"cache-{self.roots}")
        self.roots += 1
        qc = self.eng.CachedSparkSession(
            self.spark,
            self.eng.QueryCacheConfig(
                cache=self.eng.ParquetQueryCache(root),
                default_temporal_column="ts",
                temporal_partition_columns=dict(self.wl.partition_columns),
                override_now_ns=now,
            ),
        )
        return qc, root

    def run(self, seconds: float) -> List[OpRecord]:
        """The untimed warm-up (a cold load at the cut and the first
        refreshes), then refreshes with the schedule's hot reloads until the
        measured phase, oracle queries included, has run for ``seconds``,
        then the workload's cold loads. At least one refresh is measured.
        Every op is checked against the oracle, except the warm-up's cold
        load and its refreshes after the first: their oracle queries would
        double the warm-up. Hot loads reuse the oracle result of their
        ``now``; a measured cold load runs it again."""
        t0 = time.perf_counter()
        qc, root = self.session(self.sched.cut_ns)
        self.load(qc, root, "cold", self.sched.cut_ns, measured=False, checked=False)
        for i, (now, hot) in enumerate(zip(self.sched.nows, self.sched.hot)):
            m = i - self.wl.warmup_refreshes  # measured refreshes before this one
            if m == 0:
                self.phases["warmup_s"] = time.perf_counter() - t0
                # what the warm-up left on the heap is not scanned again by
                # the collector during the measured ops
                gc.collect()
                gc.freeze()
                t0 = time.perf_counter()
            if m == 0 and self.tracer is not None:
                self.tracer.install_engine()
                self.tracer.install_py4j(self.spark)
            elif m > 0 and time.perf_counter() - t0 >= seconds:
                break
            measured, checked = m >= 0, m >= 0 or i == 0
            qc.config.override_now_ns = now
            self.load(qc, root, "refresh", now, measured, checked, traced=m % 2 == 0)
            if m == 0:
                self.state_bytes = dir_bytes(root)
            for j in range(hot):
                self.load(qc, root, "hot", now, measured, checked, traced=j % 2 == 0)
        self.phases["measure_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        now = qc.config.override_now_ns
        for _ in range(self.wl.cold_loads):
            # each panel's oracle runs again right after its cold query, so
            # the cold load has a plain cost measured beside it
            self.expected = {}
            qc, root = self.session(now)
            self.load(qc, root, "cold", now, measured=True)
        self.phases["cold_s"] = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.uninstall()
        return self.records

    def load(self, qc, root: str, kind: str, now: int, measured: bool,
             checked: bool = True, traced: bool = True) -> None:
        """One dashboard load: every panel in turn, each ``checked`` against
        the oracle. ``traced`` loads are recorded by the tracer, if any."""
        self.loads += 1
        traced = traced and measured and self.tracer is not None
        if now != self.expected_now:
            self.expected, self.expected_now = {}, now
        for panel in self.wl.panels:
            rec = OpRecord(kind, panel.name, now, self.loads, measured, checked, traced)
            self.query(qc, root, panel, rec)
            if checked:
                self.check(panel, rec)
            else:
                rec.ok, rec.rows = rec.rows is not None, None
            self.records.append(rec)

    def query(self, qc, root: str, panel: Panel, rec: OpRecord) -> None:
        tracer, sc, sql = self.tracer, self.spark.sparkContext, panel.sql(self.sched.lits)
        if rec.traced:
            before = dir_bytes(root)
            op = tracer.begin_op(sc)
        t0 = time.perf_counter()
        try:
            if rec.traced:
                with tracer.span("session.sql"):
                    df = qc.sql(sql)
                with tracer.span("session.collect"):
                    rec.rows = df.collect()
            else:
                rec.rows = qc.sql(sql).collect()
        except Exception as e:  # an engine failure is a counted result
            rec.error = f"{type(e).__name__}: {e}"[:300]
        rec.wall_s = time.perf_counter() - t0
        if rec.traced:
            rec.layers = tracer.end_op(op, sc)
            d = qc.last_decision
            state_rows, layer_n = cache_stats(root)
            rec.layers.update(tier_counts(d))
            rec.layers.update({
                "session.fresh_rows": (d.fresh_rows() or 0) if d else 0,
                "session.memo_hits": float(bool(d and d.served_from_memo)),
                "cache.bytes_written": dir_bytes(root) - before,
                "cache.state_rows": state_rows,
                "cache.layers": layer_n,
            })

    def check(self, panel: Panel, rec: OpRecord) -> None:
        """Compare with plain Spark over the same as-of data. The oracle
        runs once per panel and ``now``; its wall time is the plain cost."""
        if panel.name not in self.expected:
            tracer, sc = self.tracer, self.spark.sparkContext
            op = tracer.begin_op(sc) if rec.traced else None
            t0 = time.perf_counter()
            self.expected[panel.name] = self.spark.sql(
                panel.oracle_sql(self.sched.lits, rec.now_ns)).collect()
            rec.plain_s = time.perf_counter() - t0
            if rec.traced:
                rec.plain_layers = tracer.end_op(op, sc)
        if rec.rows is not None:
            rec.ok = same_result(rec.rows, self.expected[panel.name])
            if not rec.ok:
                rec.error = "result differs from the plain-Spark as-of oracle"
        rec.rows = None
