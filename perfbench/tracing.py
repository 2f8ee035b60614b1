"""Spans around the engine's layers, recorded from outside the engine.

:class:`Tracer` replaces the engine's public layer functions with wrappers
at every module attribute that holds them (``from x import f`` copies a
binding into the importing module, so patching the defining module alone
would miss calls through ``session.classify``, ``tiers.to_column`` and the
like). Spans stay in memory and are written out when the run ends.

A span is ``[name, start, end, parent index, op id]``. A call into a layer
that is already open (recursion, or ``parse_query`` calling
``parse_agg_query``) stays inside the outer span: it is neither a new call
nor a new span. Self time is a span's duration minus the part of it that
its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections import Counter, defaultdict
from typing import Iterable, List, Optional, Sequence, Tuple

ENGINE = "datafusion_query_cache_spark"

#: span name → layer metric prefix: ``<prefix>.calls`` and ``<prefix>.s``
#: (self seconds); the cache spans report under their own names below
COUNTED = {
    "plans.parser": "plans.parser",
    "plans.classify": "plans.classify",
    "functions.partial": "functions.partial",
    "functions.compile": "functions.compile",
    "nano": "nano",
    "py4j": "py4j",
}

#: every per-op layer metric, in report order
LAYER_METRICS = (
    "session.sql_s",
    "session.collect_s",
    "session.self_s",
    "session.cached_frac",
    "session.fresh_rows",
    "session.tier_nano",
    "session.tier_lite",
    "session.tier_template",
    "session.tier_classic",
    "session.tier_other",
    "session.tier_none",
    "session.memo_hits",
    "plans.parser.calls",
    "plans.parser.s",
    "plans.classify.calls",
    "plans.classify.s",
    "functions.partial.calls",
    "functions.partial.s",
    "functions.compile.calls",
    "functions.compile.s",
    "nano.calls",
    "nano.s",
    "cache.read_calls",
    "cache.read_s",
    "cache.write_calls",
    "cache.write_s",
    "cache.compact_s",
    "cache.bytes_written",
    "cache.state_rows",
    "cache.layers",
    "py4j.calls",
    "py4j.s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.job_s",
)

#: layer metrics reported for the plain-Spark oracle queries
PLAIN_METRICS = ("py4j.calls", "spark.jobs", "spark.stages", "spark.tasks", "spark.job_s")


def union_length(intervals: Iterable[Tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: Sequence[Sequence]) -> List[float]:
    """Per span: its duration minus the union of its children's intervals,
    each child clipped to the parent. ``parent`` indexes into ``spans``
    (-1 for a root)."""
    kids = defaultdict(list)
    for s in spans:
        if s[3] >= 0:
            kids[s[3]].append((s[1], s[2]))
    out = []
    for i, (_, start, end, *_rest) in enumerate(spans):
        covered = union_length(
            (max(a, start), min(b, end)) for a, b in kids[i] if b > start and a < end
        )
        out.append((end - start) - covered)
    return out


class Tracer:
    """Span recorder plus the wrappers that feed it."""

    def __init__(self):
        self.spans: list = []
        self._stack: List[int] = []
        self._open: Counter = Counter()
        self._patches: list = []
        #: spans are recorded only inside an op while this is True
        self.on = False
        self.op_id: Optional[int] = None
        self.ops = 0

    # -- recording ---------------------------------------------------------

    def enter(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(idx)
        self._open[name] += 1
        return idx

    def exit(self, idx: int) -> None:
        span = self.spans[idx]
        span[2] = time.perf_counter()
        self._stack.pop()
        self._open[span[0]] -= 1

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.enter(name)
        try:
            yield
        finally:
            self.exit(idx)

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.on or tracer._open[name]:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- installing --------------------------------------------------------

    def _patch(self, owner, attr: str, name: str) -> None:
        own = owner.__dict__ if hasattr(owner, "__dict__") else {}
        had_own = attr in own
        orig = own[attr] if had_own else getattr(owner, attr)
        setattr(owner, attr, self.wrap(name, orig))
        self._patches.append((owner, attr, had_own, orig))

    def install_engine(self) -> int:
        """Wrap every layer function at every engine module binding site.
        Returns the number of binding sites patched."""
        from datafusion_query_cache_spark import cache, nano
        from datafusion_query_cache_spark.functions import compile as compile_
        from datafusion_query_cache_spark.functions import partial
        from datafusion_query_cache_spark.plans import classify, parser

        functions = [
            (parser.parse_query, "plans.parser"),
            (parser.parse_agg_query, "plans.parser"),
            (classify.classify, "plans.classify"),
            (partial.plan_items, "functions.partial"),
            (partial.lite_plan, "functions.partial"),
            (compile_.to_column, "functions.compile"),
            (nano.build_nano_program, "nano"),
            (nano.build_nano_topk_program, "nano"),
        ]
        modules = [m for n, m in list(sys.modules.items()) if n.startswith(ENGINE) and m]
        for fn, name in functions:
            for mod in modules:
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        self._patch(mod, attr, name)
        entry = cache._ParquetEntry
        methods = [
            (nano.NanoProgram, "run", "nano"),
            (nano.NanoTopKProgram, "refresh", "nano"),
        ]
        methods += [(entry, m, "cache.read") for m in ("get", "get_arrow", "state_df")]
        methods += [
            (entry, m, "cache.write")
            for m in ("put", "put_arrow", "put_split", "put_bucket_tail", "append")
        ]
        methods += [(entry, m, "cache.compact") for m in ("compact", "_merge_layer_pair")]
        for owner, attr, name in methods:
            self._patch(owner, attr, name)
        return len(self._patches)

    def install_py4j(self, spark) -> None:
        """Count JVM round-trips on the gateway client's ``send_command``
        only: its connection's ``send_command`` is the same round-trip one
        frame down, so counting both would double it."""
        self._patch(spark.sparkContext._gateway._gateway_client, "send_command", "py4j")

    def uninstall(self) -> None:
        for owner, attr, had_own, orig in reversed(self._patches):
            if had_own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._patches.clear()

    # -- ops ---------------------------------------------------------------

    def begin_op(self, sc) -> int:
        """Open a new op's root span under a Spark job group of its own;
        the job-group call itself is not part of the op."""
        self.ops += 1
        sc.setJobGroup(f"perfbench-{self.ops}", "perfbench op")
        self.op_id = self.ops
        self.on = True
        return self.enter("op")

    def end_op(self, root: int, sc) -> dict:
        """Close the op; return its per-layer counts, self times and Spark
        job figures."""
        self.exit(root)
        self.on = False
        self.op_id = None
        sc.setLocalProperty("spark.jobGroup.id", None)
        spans = self.spans[root:]
        selfs = self_times([[s[0], s[1], s[2], s[3] - root if s[3] >= 0 else -1] for s in spans])
        m = {f"{p}.calls": 0 for p in COUNTED.values()}
        m.update({f"{p}.s": 0.0 for p in COUNTED.values()})
        m.update({
            "session.sql_s": 0.0, "session.collect_s": 0.0, "session.self_s": 0.0,
            "cache.read_calls": 0, "cache.read_s": 0.0, "cache.write_calls": 0,
            "cache.write_s": 0.0, "cache.compact_s": 0.0,
        })
        for s, st in zip(spans, selfs):
            name, dur = s[0], s[2] - s[1]
            if name in COUNTED:
                m[f"{COUNTED[name]}.calls"] += 1
                m[f"{COUNTED[name]}.s"] += st
            elif name in ("session.sql", "session.collect"):
                m[f"{name}_s"] += dur
                m["session.self_s"] += st
            elif name in ("cache.read", "cache.write"):
                m[f"{name}_calls"] += 1
                m[f"{name}_s"] += st
            elif name == "cache.compact":
                m["cache.compact_s"] += st
        m.update(spark_job_stats(sc, f"perfbench-{spans[0][4]}"))
        return m

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s[0], "start": s[1], "end": s[2],
                                    "parent": s[3], "op": s[4]}) + "\n")


def spark_job_stats(sc, group: str) -> dict:
    """Jobs, stages and tasks a job group ran, and the wall time its jobs
    covered (union of submission→completion intervals, from the status
    store), via ``statusTracker`` as ``bench.py``'s ``_count_jobs`` does."""
    tracker = sc.statusTracker()
    ids = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    spans = []
    store = sc._jsc.sc().statusStore()
    for j in ids:
        info = tracker.getJobInfo(j)
        for sid in (info.stageIds if info else ()):
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
        jd = store.job(j)
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and done.isDefined():
            spans.append((sub.get().getTime(), done.get().getTime()))
    return {
        "spark.jobs": len(ids),
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.job_s": union_length(spans) / 1000.0,
    }
