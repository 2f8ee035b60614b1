#!/usr/bin/env python3
"""Dashboard-refresh benchmark: one closed-loop client runs seeded standing
panels through ``CachedSparkSession.sql(q).collect()``, advancing the
pinned ``now`` so every refresh folds in a fresh tail, and checks every
result against plain Spark over the same as-of data.

    python3 perfbench/run.py --workload small_dashboard --seed 1 --seconds 8 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's layers and prints per-layer metrics instead. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
Run from the repository root; fixtures, cache state, Spark scratch space
and traces go under ``perfbench/.data``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time
from typing import Tuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "datafusion_query_cache_spark"
#: restarts after the launch set-up; setup_s is the median of all set-ups
SETUP_RESTARTS = 2
END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_vs_plain": "ratio",
    "refresh_vs_plain": "ratio",
    "refresh_mean_vs_plain": "ratio",
    "hot_vs_plain": "ratio",
    "state_mb": "MB",
    "driver_rss_mb": "MB",
}


def process_age_s() -> float:
    """Seconds since this process started (Linux ``/proc``)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def confine_scratch(data: str) -> str:
    """Point every scratch path (Python, JVM, Spark local dirs) inside the
    checkout, before the JVM starts. Returns the run's scratch dir."""
    import tempfile

    scratch = os.path.join(data, "tmp", str(os.getpid()))
    os.makedirs(scratch, exist_ok=True)
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ.setdefault("QC_DRIVER_MEMORY", "3g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={scratch} pyspark-shell"
    )
    return scratch


class Engine:
    """The engine's public entry points, freshly imported."""

    def __init__(self):
        for name in [n for n in sys.modules if n == ENGINE or n.startswith(ENGINE + ".")]:
            del sys.modules[name]
        import datafusion_query_cache_spark as pkg
        from datafusion_query_cache_spark import cache
        from datafusion_query_cache_spark.sources import tables

        self.CachedSparkSession = pkg.CachedSparkSession
        self.QueryCacheConfig = pkg.QueryCacheConfig
        self.ParquetQueryCache = pkg.ParquetQueryCache
        self.tables = tables
        self.collect_cap = cache._ParquetEntry.DRIVER_COLLECT_MAX_ROWS


def start_session(eng: Engine, data: str):
    spark = eng.tables.get_session(
        app="perfbench",
        cpus=str(len(os.sched_getaffinity(0))),
        warehouse=os.path.join(data, "warehouse"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def register(eng: Engine, spark, workload: str) -> None:
    from perfbench.fixture import BIG_PATH, BIG_TABLE, SMALL_PATH

    if workload == "small_dashboard":
        # the nano tier admits only sources registered through this call
        eng.tables.register_parquet_view(spark, "events", SMALL_PATH)
    else:
        # a plain temp view: the nano tier cannot admit it
        big = eng.tables.with_ns_shadow(spark.read.parquet(BIG_PATH), "ts")
        big.createOrReplaceTempView(BIG_TABLE)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()


def dashboard_loads(records, kind: str, plain: bool = False) -> list:
    """Seconds per measured dashboard load of ``kind``: the panels' walls
    (or their oracle queries' walls) summed over each load."""
    loads: dict = {}
    for r in records:
        t = r.plain_s if plain else r.wall_s
        if r.measured and r.kind == kind and t is not None:
            loads[r.load] = loads.get(r.load, 0.0) + t
    return list(loads.values())


def load_p50(records, kind: str, plain: bool = False) -> float:
    """The median dashboard load of ``kind``: each panel's median wall (or
    its oracle queries' median wall) over the measured ops, summed over the
    panels. A slow op of one panel moves only that panel's median."""
    from perfbench.stats import median

    walls: dict = {}
    for r in records:
        t = r.plain_s if plain else r.wall_s
        if r.measured and r.kind == kind and t is not None:
            walls.setdefault(r.panel, []).append(t)
    return sum(median(ts) for ts in walls.values())


def timings(records) -> dict:
    """The measured dashboard loads in seconds. ``plain_p50_s`` is the
    oracle beside the refreshes, ``plain_cold_p50_s`` the one beside the
    measured cold loads."""
    refresh = dashboard_loads(records, "refresh")
    return {
        "cold_p50_s": load_p50(records, "cold"),
        "refresh_p50_s": load_p50(records, "refresh"),
        "refresh_mean_s": sum(refresh) / len(refresh),
        "hot_p50_s": load_p50(records, "hot"),
        "plain_p50_s": load_p50(records, "refresh", plain=True),
        "plain_cold_p50_s": load_p50(records, "cold", plain=True),
    }


def end_to_end(records, setups, state_bytes) -> dict:
    """The bounded metrics. Each load is given as a share of plain Spark
    running the same queries over the same as-of data in the same run: the
    host's speed drifts by a third between runs, and moves both alike."""
    from perfbench.stats import median

    t = timings(records)
    rss_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {
        "setup_s": median(setups),
        "cold_vs_plain": t["cold_p50_s"] / t["plain_cold_p50_s"],
        "refresh_vs_plain": t["refresh_p50_s"] / t["plain_p50_s"],
        "refresh_mean_vs_plain": t["refresh_mean_s"] / t["plain_p50_s"],
        "hot_vs_plain": t["hot_p50_s"] / t["plain_p50_s"],
        "state_mb": state_bytes / 1e6,
        "driver_rss_mb": rss_kib * 1024 / 1e6,
    }


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "B"
    if "rows" in name:
        return "rows"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def per_layer(records) -> dict:
    """Per-op means of every layer metric over the traced ops of each kind,
    the oracle queries' figures, and the tracing overhead."""
    from perfbench.stats import median
    from perfbench.tracing import LAYER_METRICS, PLAIN_METRICS

    out = {}
    for kind in ("cold", "refresh", "hot"):
        ops = [r.layers for r in records if r.kind == kind and r.layers]
        for m in LAYER_METRICS:
            out[f"{kind}.{m}"] = sum(o[m] for o in ops) / len(ops) if ops else 0.0
    plains = [r.plain_layers for r in records if r.plain_layers]
    for m in PLAIN_METRICS:
        out[f"plain.{m}"] = sum(p[m] for p in plains) / len(plains) if plains else 0.0
    traced = dashboard_loads([r for r in records if r.traced], "refresh")
    plain = dashboard_loads([r for r in records if not r.traced], "refresh")
    out["trace.overhead_s"] = median(traced) - median(plain) if traced and plain else 0.0
    return out


def report(workload, records, metrics, extra) -> None:
    """Human-readable lines before the JSON result."""
    from perfbench.stats import median, percentile

    refresh = dashboard_loads(records, "refresh")
    counts = {k: len(dashboard_loads(records, k)) for k in ("cold", "refresh", "hot")}
    print(f"# workload {workload}: closed loop, 1 client; measured dashboard loads {counts}; "
          f"queries {len(records)}, oracle queries {sum(r.plain_s is not None for r in records)}")
    for k, v in extra.items():
        print(f"# {k} = {v}")
    warm: dict = {}
    for r in records:
        if not r.measured:
            warm[(r.load, r.kind)] = warm.get((r.load, r.kind), 0.0) + r.wall_s
    print("# warm-up load walls (s): " + " ".join(f"{k[1]} {t:.3f}" for k, t in warm.items()))
    for k in counts:
        print(f"# {k} load walls (s): " + " ".join(
            f"{t:.3f}" for t in dashboard_loads(records, k)))
    for p in dict.fromkeys(r.panel for r in records):
        ops = [r for r in records if r.measured and r.panel == p]
        walls = {k: [r.wall_s for r in ops if r.kind == k] for k in counts}
        walls["plain"] = [r.plain_s for r in ops if r.plain_s is not None]
        print(f"# panel {p} median s: " + ", ".join(
            f"{k} {median(v):.3f}" for k, v in walls.items() if v))
    for name, v in timings(records).items():
        print(f"# {name} = {v:.4f} s")
    p90 = percentile(refresh, 90)
    print("# refresh_p90_s = " + (f"{p90:.4f} s" if p90 is not None else
          f"n/a ({len(refresh)} refreshes; needs >= 100)"))
    failed = [r for r in records if not r.ok]
    print(f"# fail_frac = {len(failed) / max(1, len(records)):.4f}")
    for r in failed[:5]:
        print(f"#   FAILED {r.kind} {r.panel} now={r.now_ns}: {r.error}")
    for name, v in metrics.items():
        print(f"{name:32s} {v:14.6f} {unit_of(name) if '.' in name else END_TO_END_UNITS[name]}")


#: the known counts of the engine as it stands (ROADMAP): a nano-served
#: dynamic-window refresh makes about this many JVM round-trips and runs no
#: Spark job
NANO_REFRESH_PY4J_CALLS = 51
#: the share by which the median py4j count may differ from it
PY4J_CALLS_BAND = 0.2


def self_check(workload: str, records) -> Tuple[bool, str]:
    """Compare a traced run's layer counts with the known ones: on
    ``small_dashboard``, the nano-served ``daily_window`` refreshes read
    ``NANO_REFRESH_PY4J_CALLS`` py4j calls (within ``PY4J_CALLS_BAND``) and
    0 Spark jobs; on every other workload, ``nano.calls`` is 0. Returns
    (ok, what was read)."""
    from perfbench.stats import median

    traced = [r for r in records if r.layers]
    if workload != "small_dashboard":
        calls = sum(r.layers["nano.calls"] for r in traced)
        return calls == 0 and bool(traced), f"nano.calls {calls} over {len(traced)} traced ops"
    ops = [r.layers for r in traced
           if r.kind == "refresh" and r.panel == "daily_window" and r.layers["session.tier_nano"]]
    if not ops:
        return False, "no traced nano-served daily_window refresh"
    calls = median([o["py4j.calls"] for o in ops])
    jobs = max(o["spark.jobs"] for o in ops)
    ok = abs(calls - NANO_REFRESH_PY4J_CALLS) <= PY4J_CALLS_BAND * NANO_REFRESH_PY4J_CALLS
    return ok and jobs == 0, (
        f"nano-served daily_window refresh: py4j.calls median {calls:g} "
        f"(expected {NANO_REFRESH_PY4J_CALLS} +/- {PY4J_CALLS_BAND:.0%}), "
        f"spark.jobs max {jobs} (expected 0), {len(ops)} ops")


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: no {ENGINE}/ beside perfbench/; run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    from perfbench import fixture
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Runner

    wl = WORKLOADS[args.workload]
    scratch = confine_scratch(fixture.DATA)
    eng = Engine()
    spark = start_session(eng, scratch)
    try:
        fixture_s = fixture.ensure_fixtures(spark)
        register(eng, spark, wl.name)
        setups = [process_age_s() - fixture_s]

        sched = fixture.make_schedule(wl.name, args.seed)
        fixture.write_schedule(sched, os.path.join(
            fixture.DATA, "schedules", f"{wl.name}-seed{args.seed}.json"))
        problems = fixture.check_preconditions(sched, eng.collect_cap)
        if wl.name != "small_dashboard" and fixture.BIG_TABLE in eng.tables.LOCAL_PARQUET_SOURCES:
            problems.append(f"{fixture.BIG_TABLE} is registered through register_parquet_view")
        if problems:
            print("perfbench: input preconditions fail: " + "; ".join(problems), file=sys.stderr)
            return 3

        for _ in range(SETUP_RESTARTS):
            spark.stop()
            t0 = time.perf_counter()
            eng = Engine()
            spark = start_session(eng, scratch)
            register(eng, spark, wl.name)
            setups.append(time.perf_counter() - t0)

        tracer = Tracer() if args.trace else None
        runner = Runner(eng, spark, wl, sched, scratch, tracer)
        t_start = time.perf_counter()
        records = runner.run(args.seconds)
        measured = [r for r in records if r.measured]

        failed = sum(not r.ok for r in records)
        extra = {
            "fixture_build_s": f"{fixture_s:.3f}",
            "setups_s": ", ".join(f"{s:.3f}" for s in setups),
            "run_s": f"{time.perf_counter() - t_start:.3f} (warm-up included)",
            "schedule": f"cut={sched.cut_ns}, {len(sched.nows)} refresh instants, lits={sched.lits}",
            "warmup_ops": len(records) - len(measured),
            "phases_s": ", ".join(f"{k} {v:.2f}" for k, v in runner.phases.items()),
        }
        if tracer is not None:
            trace_path = os.path.join(fixture.DATA, "traces", f"{wl.name}-seed{args.seed}.jsonl")
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            tracer.dump(trace_path)
            metrics = per_layer(measured)
            extra["trace"] = f"{len(tracer.spans)} spans -> {os.path.relpath(trace_path, ROOT)}"
            ok, seen = self_check(wl.name, measured)
            # a report, not a refusal: a change that cuts these counts is
            # what the traced run is there to show
            print(f"# self_check {'ok' if ok else 'FAILED'}: {seen}")
        else:
            metrics = end_to_end(measured, setups, runner.state_bytes)
        report(wl.name, records, metrics, extra)
        result = {
            "correct": failed == 0,
            "attempted": len(records),
            "failed": failed,
            "metrics": {
                k: {"value": v, "unit": END_TO_END_UNITS.get(k) or unit_of(k)}
                for k, v in metrics.items()
            },
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
