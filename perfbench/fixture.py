"""Seeded inputs: the event fixtures (built once per checkout) and each
run's refresh schedule, with the input preconditions checked on both.

The fixtures do not depend on the run seed; the schedule does. The engine
sees only the generated SQL and ``now`` instants."""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import time
from dataclasses import asdict, dataclass, field
from typing import Dict, List

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, ".data")
FIXTURE = os.path.join(DATA, "fixture-v3")
SMALL_PATH = os.path.join(FIXTURE, "events.parquet")

#: the fixture is the same for every run seed
FIXTURE_SEED = 42
BASE_ROWS = 100_000
DAYS = 30
BASE_NS = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 10**9
SEC = 10**9
HOUR = 3600 * SEC
DAY = 24 * HOUR
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
#: replicas of the base events in the big table. At 20 the 25-day
#: (day, event_id % 24989) state holds ~575k groups at a cut at day 23, so
#: it stays above the engine's 500k-row driver-collect cap (12 would be the
#: least); more replicas add scan time, not groups.
BIG_REPLICAS = 20
BIG_TABLE = f"events_x{BIG_REPLICAS}"
BIG_PATH = os.path.join(FIXTURE, BIG_TABLE)
REPLICA_ID_STRIDE = 100_000_000
#: prime modulus of the high-cardinality panel (a divisor of the replica
#: stride would fold every replica onto one key)
HC_MOD = 24989
#: files per date partition; ``bench.py`` writes 16, and 4 make the first
#: cold load and the launch several seconds shorter
FILES_PER_DAY = 4


def base_events():
    """The base event stream as a pyarrow table: ``BASE_ROWS`` rows over
    ``DAYS`` days, µs timestamps in ``event_id`` order, 2% NULL values."""
    import pyarrow as pa

    rng = np.random.default_rng(FIXTURE_SEED)
    n = BASE_ROWS
    ts_us = BASE_NS // 1000 + np.sort(rng.integers(0, DAYS * DAY // 1000, n))
    value = np.round(rng.normal(100.0, 50.0, n), 2)
    null = rng.random(n) < 0.02
    kinds = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, 1500, n)),
            "event_type": pa.array(kinds),
            "value": pa.array(value, mask=null),
            "props": pa.array(props),
        }
    )


def build_small() -> None:
    import pyarrow.parquet as pq

    if os.path.exists(SMALL_PATH):
        return
    os.makedirs(FIXTURE, exist_ok=True)
    tmp = SMALL_PATH + ".tmp"
    pq.write_table(base_events(), tmp)
    os.replace(tmp, SMALL_PATH)


def build_big(spark) -> None:
    """events × ``BIG_REPLICAS``, partitioned by event date with
    ``FILES_PER_DAY`` files per date: replica ``r`` shifts ``event_id`` by
    ``r * REPLICA_ID_STRIDE`` and keeps every timestamp."""
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(BIG_PATH, "_SUCCESS")):
        return
    tmp = BIG_PATH + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    raw = spark.read.parquet(SMALL_PATH)
    out = (
        raw.withColumn(
            "__r", F.explode(F.expr(f"sequence(0, {BIG_REPLICAS - 1})"))
        )
        .withColumn(
            "event_id",
            F.col("event_id")
            + F.col("__r").cast("long") * F.lit(REPLICA_ID_STRIDE),
        )
        .drop("__r")
        .withColumn("d", F.to_date(F.col("ts")))
    )
    out.repartition(
        F.col("d"), F.pmod(F.col("event_id"), F.lit(FILES_PER_DAY))
    ).write.partitionBy("d").parquet(tmp)
    shutil.rmtree(BIG_PATH, ignore_errors=True)
    os.rename(tmp, BIG_PATH)


def ensure_fixtures(spark) -> float:
    """Build whatever fixture is missing; returns the seconds spent."""
    t0 = time.perf_counter()
    build_small()
    build_big(spark)
    return time.perf_counter() - t0


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass  # a file swapped away mid-walk
    return total


# --------------------------------------------------------------------------
# schedules


@dataclass
class Schedule:
    """One run of a workload: a cold load at ``cut``, then one refresh per
    instant in ``nows``; after refresh ``i`` come ``hot[i]`` hot reloads at
    the unchanged instant. ``lits`` are the panel literals."""

    workload: str
    seed: int
    cut_ns: int
    nows: List[int]
    hot: List[int]
    lits: Dict[str, object] = field(default_factory=dict)


#: per workload: cut (days after the first event), cut jitter, ``now``
#: step range, chance of hot reloads after a refresh, reloads when they come
SCHEDULE_SHAPE = {
    "small_dashboard": dict(cut_day=20, jitter=DAY, step=(2 * HOUR, 4 * HOUR),
                            hot_p=0.75, hot_repeats=2),
    # about 1/12 of a day per refresh
    "big_state": dict(cut_day=23, jitter=12 * HOUR, step=(100 * 60 * SEC, 140 * 60 * SEC),
                      hot_p=0.75, hot_repeats=2),
}


def make_schedule(workload: str, seed: int) -> Schedule:
    """Refresh instants from the cut up to the last fixture day; a run
    stops when its time is up, long before they run out."""
    shape = SCHEDULE_SHAPE[workload]
    rng = random.Random(f"{workload}:{seed}")
    # whole seconds, so every instant renders as an exact literal
    cut = BASE_NS + shape["cut_day"] * DAY + rng.randrange(0, shape["jitter"] // SEC) * SEC
    lo, hi = shape["step"]
    nows, hot, now = [], [], cut
    while True:
        now += rng.randrange(lo // SEC, hi // SEC) * SEC
        if now > BASE_NS + (DAYS - 1) * DAY:
            break
        nows.append(now)
        hot.append(shape["hot_repeats"] if rng.random() < shape["hot_p"] else 0)
    # the seed picks among event types, which are equally common, so every
    # seed's panels cost the same; the sizes stay fixed for the same reason
    lits = {
        "flag_type": rng.choice(EVENT_TYPES),
        "flag_from_day": 3,
        "dyn_days": 10,
        "topk_type": rng.choice(EVENT_TYPES),
        "topk_k": 50,
        "ma_skip_type": rng.choice(EVENT_TYPES),
    }
    return Schedule(workload, seed, cut, nows, hot, lits)


def write_schedule(s: Schedule, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(asdict(s), f, indent=1)


# --------------------------------------------------------------------------
# input preconditions (checks on the inputs, never on which tier served)


def _base_ts_ids():
    import pyarrow.parquet as pq

    t = pq.read_table(SMALL_PATH, columns=["event_id", "ts"])
    ts_ns = t.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64) * 1000
    return ts_ns, t.column("event_id").to_numpy()


def fresh_rows_per_refresh(s: Schedule) -> List[int]:
    """Base rows in each refresh's window ``[previous now, now)``; every
    replica of the big table repeats the same timestamps."""
    ts_ns, _ = _base_ts_ids()
    edges = [s.cut_ns] + list(s.nows)
    idx = np.searchsorted(ts_ns, edges, side="left")
    return [int(b - a) for a, b in zip(idx[:-1], idx[1:])]


def window_groups(now_ns: int, days: int) -> int:
    """Distinct ``(day, event_id % HC_MOD)`` groups of the big table with
    ``now - days < ts < now``: the high-cardinality panel's state size."""
    ts_ns, ids = _base_ts_ids()
    m = (ts_ns > now_ns - days * DAY) & (ts_ns < now_ns)
    ts_ns, ids = ts_ns[m], ids[m]
    day = (ts_ns - BASE_NS) // DAY
    shifts = np.arange(BIG_REPLICAS, dtype=np.int64) * REPLICA_ID_STRIDE
    total = 0
    for d in np.unique(day):
        keys = (ids[day == d][:, None] + shifts[None, :]) % HC_MOD
        total += len(np.unique(keys))
    return total


def check_preconditions(s: Schedule, collect_cap: int) -> List[str]:
    """Problems with this run's inputs (empty when they are fine)."""
    problems = []
    for i, n in enumerate(fresh_rows_per_refresh(s)):
        if n < 1:
            problems.append(f"refresh {i} has no fresh row")
    if s.workload == "big_state":
        g = window_groups(s.cut_ns, 25)
        if g <= collect_cap:
            problems.append(
                f"the high-cardinality window holds {g} groups, not above the "
                f"{collect_cap} collect cap"
            )
    return problems
