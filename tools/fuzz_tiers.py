"""Differential fuzzer for the refresh-tier ladder.

Generates random cacheable-shaped aggregate queries over the registered
``events`` table and drives each through an advancing-now flow on a fresh
``CachedSparkSession``, comparing every answer against plain ``spark.sql``
with now() pinned to the same literal (the as-of contract: cached answers
are bounded ``ts < now``). Config axes are fuzzed too: parquet vs memory
cache, nano byte gate open/closed, salted state.

This is the WIDE offline twin of
``tests/test_dyn_nano.py::test_randomized_tier_equivalence`` (10 seeded
trials, run per-suite): run it with hundreds of trials before shipping a
planner/tier change. Floats compare relatively (incremental merges
re-associate fp sums — inherent to ANY incremental engine, reference
included: its accumulator merge is the same re-association,
``src/aggregate.rs:402-409``).

After each refresh the same SQL is re-issued at the same now (a hot
reload) and compared with the same plain rows; the summary counts the hot
reloads served from the result memo, and the tier mix of the misses
(``none`` = the classic miss) and of the refreshes.

One shape family (``gen_nano_sql``) keeps to what the nano tier admits, so
its literal fold and its cold-load path are fuzzed too. Another
(``gen_bucket_topk_sql``) runs a day-bucketed, high-cardinality dynamic
top-k under a lowered collect cap, so the layered store's bucketed top-k
finalize and its refusals are fuzzed. Half the trials with a lowered
collect cap also lower the layer cap (``BPARTS_COMPACT_AT`` 2 or 3), so
tail-only warm merges run through layer-pair folds and compacting puts.
A quarter of the FULL OUTER trials also group on a day bucket (NULL on the
anti rows). A refresh where the engine raises the same Spark error class
as its plain twin (ANSI ``DIVIDE_BY_ZERO`` from ``corr`` over a group with
a constant column) counts as parity, and the summary prints how many.

Usage: python tools/fuzz_tiers.py [trials] [seed] [sf_dir]
Exit 0 = every comparison on every refresh of every trial matched.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TRIALS = int(sys.argv[1]) if len(sys.argv) > 1 else 100
SEED = int(sys.argv[2]) if len(sys.argv) > 2 else 20260814
SF_DIR = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.001"

GROUPS = [
    "CAST(date_trunc('day', ts) AS DATE) AS d",
    "date_trunc('hour', ts) AS h",
    "date_trunc('week', ts) AS w",
    "event_type",
]
AGGS = [
    "count(*) AS n",
    "count(value) AS nv",
    "sum(value) AS s",
    "min(value) AS mn",
    "max(value) AS mx",
    "avg(value) AS av",
    # +1e-9 nudge (the ledger's convention): an incremental merge
    # re-associates fp sums, and when the true avg sits within 1 ulp of a
    # round-half boundary the rounded outputs legitimately differ by one
    # step — seed 777 trial 34 hit exactly that (63.3175 vs 63.317499…95)
    "round(avg(value) + 1e-9, 3) AS avr",
    "sum(value * 1.5) AS sx",
    "sum(value) / count(*) AS spr",
    "var_samp(value) AS vs",
    "stddev_pop(value) AS sp",
    "min_by(event_type, value) AS mb",
    "max_by(event_type, value) AS xb",
    "count(DISTINCT event_type) AS de",
    "bool_or(value > 50) AS bo",
    "bit_or(CAST(value AS BIGINT)) AS br",
    # r10 additions: count_if (rewritten onto the count state),
    # sum(DISTINCT plain column) (capped set state), skewness (M3 raw
    # power sums — rounded like avr; kurtosis shares the machinery)
    "count_if(value > 50) AS ci",
    "sum(DISTINCT user_id) AS sdu",
    "round(skewness(value) + 1e-9, 3) AS skw",
    # r12: FILTER clauses rewrite onto the existing states
    # (agg(CASE WHEN c THEN x END)) — EXACT outputs only
    "count(*) FILTER (WHERE value > 40) AS fcn",
    "min(user_id) FILTER (WHERE event_type <> 'view') AS fmn",
    "max_by(user_id, value) FILTER (WHERE value < 95) AS fxb",
    "count(DISTINCT event_type) FILTER (WHERE user_id % 3 = 0) AS fde",
    # r13: regr_* family (central co-moment state; slope rounded like
    # avr/skw) and multi-arg exact distinct (struct set state)
    "regr_count(value, user_id) AS rgc",
    "round(regr_slope(value, user_id) + 1e-9, 3) AS rgs",
    "count(DISTINCT user_id, event_type) AS dt2",
]
PREDS = [
    None,
    "value > 5",
    "value <= 80",
    "event_type != 'click'",
    "event_type IN ('click', 'view')",
    "(value > 10 OR event_type = 'click')",
    "value BETWEEN 5 AND 90",
    # r11: boolean-literal vocabulary (duckdb serializes TRUE/FALSE
    # constants as 0/1 ints — regression axis for the Lit(bool) fix)
    "(value > 50) IS NOT FALSE",
    "(value > 120) IS TRUE",
    # static bounds on the temporal column: the nano builders fold the
    # literal (typed and bare-string spellings) to an exact µs instant
    "ts > TIMESTAMP '2024-01-05'",
    "ts < '2024-01-28 12:00:00'",
]
WINDOWS = [
    None,
    "ts > now() - INTERVAL 9 DAY",
    "ts >= now() - INTERVAL 2 WEEK",
    "ts > now() - INTERVAL 30 HOUR",
]
HAVINGS = [None, None, None, "count(*) > 3", "min(value) >= 0"]

# filter/top-k mode (SELECT cols ... WHERE ... [ORDER BY ... LIMIT k]) —
# exercises _plan_filter row sets + the maintained/driver top-k tiers
F_COLS = [
    ["event_id", "value"],
    ["event_id", "event_type", "value"],
    ["event_id", "ts", "value"],
]
F_PREDS = [
    "event_type = 'click'",
    "value > 50",
    "event_type != 'view' AND value <= 90",
    "event_type IN ('click', 'purchase')",
    "ts > TIMESTAMP '2024-01-05'",
    "ts < '2024-01-28 12:00:00'",
]
F_ORDERS = [
    "value DESC",
    "value ASC",
    "value DESC NULLS LAST, event_type ASC",
    "ts DESC",
]


J_GROUPS = [
    "s.segment",
    "CAST(date_trunc('day', e.ts) AS DATE) AS d",
    "e.event_type",
]
J_AGGS = [
    "count(*) AS n",
    "round(sum(e.value), 2) AS sv",
    "min(e.value) AS mn",
    "avg(e.value) AS av",
]


def gen_join_sql(rng: random.Random) -> str:
    """Star-join aggregate: append-only fact (events) ⋈ static dim.
    25% spell the join RIGHT (dim first, fact preserved — r14 swap
    normalization must land on the same entry and answers)."""
    gs = rng.sample(J_GROUPS, rng.randint(1, 2))
    ags = rng.sample(J_AGGS, rng.randint(1, 2))
    pred = rng.choice([None, "e.value > 5", "s.segment != 'seg0'"])
    win = rng.choice([None, "e.ts > now() - INTERVAL 12 DAY"])
    conds = [c for c in (pred, win) if c]
    where = f" WHERE {' AND '.join(conds)}" if conds else ""
    gb = ", ".join(str(i + 1) for i in range(len(gs)))
    frm = (
        "FROM fz_seg s RIGHT JOIN events e ON e.user_id % 50 = s.bucket_id"
        if rng.random() < 0.25
        else "FROM events e JOIN fz_seg s ON e.user_id % 50 = s.bucket_id"
    )
    return (
        f"SELECT {', '.join(gs + ags)} {frm}{where} "
        f"GROUP BY {gb} ORDER BY {gb}"
    )


#: FULL-composite aggregate sample: the composite merges the anti rows'
#: partial state into the LEFT half's stored state with the normal path's
#: own partial/merge columns, so any family the normal path decomposes
#: belongs here (the HLL sketch's register-wise union is deterministic,
#: so its estimates are twin-exact)
FULL_AGGS = [
    "count(*) AS n",
    "count(ts) AS nf",
    "round(sum(value), 2) AS sv",
    "min(value) AS mn",
    "max(value) AS mx",
    "round(avg(value) + 1e-9, 3) AS av",
    "count(DISTINCT user_id) AS du",
    "approx_count_distinct(user_id) AS apu",
    # argmin pair states (r16) — ts_ns is unique, so the extreme is
    # deterministic and twin-comparable
    "min_by(event_id, ts_ns) AS fby",
    "max_by(event_id, ts_ns) AS lby",
    # var family (r16): pairwise central Chan merge; _close absorbs the
    # merge's fp re-association (same contract as the normal-path vs row)
    "var_samp(value) AS fvs",
    "stddev_pop(value) AS fsp",
    # r17: histogram states (exact percentile), set folds
    # (sum/avg DISTINCT), M3/M4 moment structs, co-moment structs, and
    # the self-merging bool/bit family
    "round(median(value) + 1e-9, 2) AS fmed",
    "round(percentile(value, 0.9) + 1e-9, 2) AS fp90",
    "sum(DISTINCT user_id) AS fsd",
    "round(avg(DISTINCT value) + 1e-9, 3) AS fad",
    "round(skewness(value) + 1e-9, 3) AS fsk",
    "round(kurtosis(value) + 1e-9, 3) AS fku",
    "round(corr(value, user_id) + 1e-9, 5) AS fco",
    "round(covar_samp(value, user_id) + 1e-9, 2) AS fcs",
    "round(regr_slope(user_id, value) + 1e-9, 5) AS fsl",
    "regr_count(user_id, value) AS frc",
    "bool_and(value > 0) AS fba",
    "bool_or(value > 500) AS fbo",
    "bit_xor(user_id) AS fbx",
]


def gen_full_sql(rng: random.Random, temporal: bool = False) -> str:
    """FULL OUTER composite (r16): two-table ON, USING-merged key, and
    the star shape (one inner/left edge then the FULL edge). The twin
    bounds the FACT SOURCE (a WHERE above a FULL join would kill the
    NULL-extended dim rows), see the fullj surgery in main().
    ``temporal`` adds a day-bucket group key (NULL on the anti rows), so
    the finalize runs over a bucketed LEFT-half state."""
    ags = rng.sample(FULL_AGGS, rng.randint(1, 3))
    pred = rng.choice([None, None, "value > 5", "value <= 80"])
    where = f" WHERE {pred}" if pred else ""
    shape = rng.random()
    if shape < 0.4:
        frm = "FROM events FULL JOIN fz_fdim ON event_type = et"
        g = "big"
    elif shape < 0.65:
        frm = "FROM events FULL JOIN fz_dimu USING (user_id)"
        g = rng.choice(["useg", "user_id % 5"])
    elif shape < 0.85:
        frm = (
            "FROM events JOIN fz_seg ON user_id % 50 = bucket_id "
            "FULL JOIN fz_fdim ON event_type = et"
        )
        g = rng.choice(["big", "segment"])
    else:
        frm = (
            "FROM events LEFT JOIN fz_dimu USING (user_id) "
            "FULL JOIN fz_fdim ON event_type = et"
        )
        g = rng.choice(["big", "useg"])
    hv = (
        " HAVING count(*) > 1"
        if rng.random() < 0.2
        else ""
    )
    td = "CAST(date_trunc('day', ts) AS DATE) AS td, " if temporal else ""
    gb = "1, 2" if temporal else "1"
    return (
        f"SELECT {g} AS g, {td}{', '.join(ags)} {frm}{where} "
        f"GROUP BY {gb}{hv} ORDER BY {gb}"
    )


#: nano-admissible vocabulary: bare-column or date_trunc groups,
#: count/sum/min/max/avg over a bare column, column-vs-literal predicates,
#: and a static temporal literal or a now() - INTERVAL bound
N_TRUNCS = [
    "CAST(date_trunc('day', ts) AS DATE) AS d",
    "date_trunc('hour', ts) AS h",
    "date_trunc('week', ts) AS w",
    "date_trunc('month', ts) AS mo",
]
N_COLS = ["event_type", "user_id"]
N_AGGS = [
    "count(*) AS n",
    "count(value) AS nv",
    "sum(value) AS s",
    "min(value) AS mn",
    "max(value) AS mx",
    "avg(value) AS av",
    "max(user_id) AS mu",
]
N_PREDS = [
    "value > 5",
    "event_type = 'click'",
    "event_type != 'view'",
    "value IS NOT NULL",
    "user_id <= 50",
]
N_STATIC = [
    "ts > TIMESTAMP '2024-01-05'",
    "ts >= '2024-01-03 06:00:00'",
    "ts < TIMESTAMP '2024-01-28 12:00:00'",
    "ts > DATE '2024-01-10'",
]
N_DYN = [
    "ts > now() - INTERVAL 9 DAY",
    "ts >= now() - INTERVAL 30 HOUR",
    "ts > now() - INTERVAL 2 WEEK",
]


def gen_nano_sql(rng: random.Random) -> str:
    """A shape the nano tier admits, cold and warm: an aggregate with a
    static temporal literal or a dynamic bound on its own date_trunc
    bucket, or a top-k filter."""
    preds = rng.sample(N_PREDS, rng.randint(0, 2))
    if rng.random() < 0.25:
        preds.append(rng.choice(N_STATIC))
        cols = rng.choice([["event_id", "value"], ["event_id", "ts", "value"]])
        order = rng.choice(["value DESC", "value ASC NULLS LAST", "ts DESC"])
        return (
            f"SELECT {', '.join(cols)} FROM events WHERE {' AND '.join(preds)} "
            f"ORDER BY {order}, event_id LIMIT {rng.choice([5, 10, 50])}"
        )
    trunc = rng.choice(N_TRUNCS)
    if rng.random() < 0.5:
        # dynamic bound: its state bucket must be a group of the query, and
        # a DATE one mostly (a timestamp bucket is ltz: the dynamic driver
        # tiers refuse it, classic serves)
        if rng.random() < 0.75:
            trunc = N_TRUNCS[0]
        gs = [trunc] + rng.sample(N_COLS, rng.randint(0, 1))
        preds.append(rng.choice(N_DYN))
    else:
        gs = rng.sample([trunc] + N_COLS, rng.randint(1, 2))
        preds.append(rng.choice(N_STATIC))
    ags = rng.sample(N_AGGS, rng.randint(1, 3))
    gb = ", ".join(str(i + 1) for i in range(len(gs)))
    order = f" ORDER BY {gb}" if rng.random() < 0.5 else ""
    return (
        f"SELECT {', '.join(gs + ags)} FROM events "
        f"WHERE {' AND '.join(preds)} GROUP BY {gb}{order}"
    )


#: exact aggregates (no float re-association): an ORDER BY on them ranks
#: the same rows in the engine and in plain Spark
BK_AGGS = [
    "count(*) AS n",
    "count(value) AS nv",
    "min(value) AS mn",
    "max(value) AS mx",
    "count(DISTINCT event_type) AS de",
    "count_if(value > 50) AS ci",
    "count(*) FILTER (WHERE value > 40) AS fcn",
    "sum(DISTINCT user_id) AS sdu",
]
#: collect cap of the bucketed top-k family: the state (~30 groups a day
#: over the whole history) is over it, a 1–2 day tail under half of it
BK_CAP = 200


def gen_bucket_topk_sql(rng: random.Random) -> str:
    """A big-state dynamic top-k grouped on its own day bucket and a
    high-cardinality key (the perfbench ``hicard_25d`` shape): run under
    ``BK_CAP`` it reaches the layered store and the bucketed top-k
    finalize. A quarter of the trials order non-totally (a group key
    missing from ORDER BY), which the engine refuses to cut per bucket;
    those take a LIMIT over every group of a 3-day window, so no tie is
    cut and plain Spark picks the same rows."""
    key = rng.choice(["event_id % 31", "event_id % 97", "user_id % 53"])
    agg = rng.choice(BK_AGGS)
    a = agg.split(" AS ")[-1]
    extra = [x for x in AGGS if x != agg]
    sel = ["CAST(date_trunc('day', ts) AS DATE) AS d", f"{key} AS k", agg]
    if rng.random() < 0.4:
        sel.append(rng.choice(extra))
    having = rng.choice([None, None, "count(*) > 1", "min(value) >= 0"])
    pred = rng.choice([None, None, "value > 5", "event_type != 'click'"])
    days = rng.choice([3, 7, 12])
    m = rng.choice([3, 5, 10])
    if rng.random() < 0.25:
        order = rng.choice([f"{a} DESC, d", f"k, {a} DESC", f"{a}"])
        days, m = 3, 190
    else:
        order = rng.choice(
            [f"{a} DESC, d, k", f"{a}, d DESC, k", f"d DESC, {a} DESC, k"]
        )
    conds = [c for c in (pred, f"ts > now() - INTERVAL {days} DAY") if c]
    hv = f" HAVING {having}" if having else ""
    return (
        f"SELECT {', '.join(sel)} FROM events WHERE {' AND '.join(conds)} "
        f"GROUP BY 1, 2{hv} ORDER BY {order} LIMIT {m}"
    )


def gen_filter_sql(rng: random.Random) -> tuple[str, bool]:
    cols = rng.choice(F_COLS)
    pred = rng.choice(F_PREDS)
    topk = rng.random() < 0.7
    sql = f"SELECT {', '.join(cols)} FROM events WHERE {pred}"
    if topk:
        # event_id is unique: a trailing tiebreak makes the sort total, so
        # top-k selection is deterministic on both sides (ties otherwise
        # make engine-vs-plain comparison flaky, not wrong)
        order = rng.choice(F_ORDERS)
        k = rng.choice([5, 10, 50])
        sql += f" ORDER BY {order}, event_id LIMIT {k}"
    return sql, topk


#: agg aliases (from AGGS) that are numeric and safe to re-aggregate
_NUMERIC_AGGS = {"n", "nv", "s", "mn", "mx", "av", "avr", "sx", "spr", "vs", "sp", "de", "br"}


def wrap_subquery(sql: str, rng: random.Random, gs, ags) -> str:
    """Wrap a generated aggregate in a derived table / CTE with a random
    outer shape (projection+filter, re-aggregation, or the WITH spelling)
    — fuzzes the r10 SubquerySpec lowering. The twin surgery downstream
    still works because the INNER where/group-by is the first occurrence
    in string order."""
    g_names = [g.split(" AS ")[-1] if " AS " in g else g for g in gs]
    a_names = [a.split(" AS ")[-1] for a in ags]
    all_names = g_names + a_names
    nums = [a for a in a_names if a in _NUMERIC_AGGS]
    kind = rng.choice(["proj", "proj", "reagg", "cte", "win"])
    if kind == "win":
        # r10 windows over the cached rollup. EXACT-only order keys: the
        # rank is an integer, so a ULP flip in a float key would flip it
        # (mn/mx are exact — min/max never re-associate); the running sum
        # over exact ints stays exact, sum over () of mn/mx floats is
        # absorbed by _close.
        exact = [a for a in a_names if a in {"n", "nv", "mn", "mx", "de", "br"}]
        if exact:
            m = rng.choice(exact)
            keys = ", ".join(g_names)
            part = (
                f"PARTITION BY {g_names[0]} "
                if len(g_names) > 1 and rng.random() < 0.5
                else ""
            )
            # r11 explicit ROWS frames: framed aggs over the EXACT group
            # keys — `keys` is a total order (the full group-by list), so
            # the frame contents are deterministic in both engines. The
            # framed SUM is restricted to INT metrics (a float frame-sum's
            # within-frame execution order is engine-private); framed
            # max/count are exact for any metric.
            ints = [a for a in exact if a in {"n", "nv", "de", "br"}]
            lo = rng.randint(0, 4)
            hi = rng.randint(0, 3)
            cands = [
                f"rank() OVER ({part}ORDER BY {m} DESC, {keys}) AS wr",
                f"row_number() OVER ({part}ORDER BY {m} DESC, {keys}) AS wr",
                f"lag({m}, 1) OVER ({part}ORDER BY {keys}) AS wr",
                f"max({m}) OVER ({part}ORDER BY {keys} ROWS BETWEEN "
                f"{lo} PRECEDING AND {hi} FOLLOWING) AS wr",
                f"count(*) OVER ({part}ORDER BY {keys} ROWS BETWEEN "
                f"UNBOUNDED PRECEDING AND {hi} FOLLOWING) AS wr",
            ]
            if ints:
                cands.append(
                    f"sum({rng.choice(ints)}) OVER ({part}ORDER BY {keys} "
                    f"ROWS BETWEEN {lo} PRECEDING AND CURRENT ROW) AS wr"
                )
                # RANGE frames: value-banded, peer-inclusive (the most
                # tie-robust frame mode) — order key must be a numeric
                # metric, not the group keys
                mi = rng.choice(ints)
                cands.append(
                    f"sum({mi}) OVER ({part}ORDER BY {mi} RANGE BETWEEN "
                    f"{lo} PRECEDING AND {hi} FOLLOWING) AS wr"
                )
            wfn = rng.choice(cands)
            sel = ", ".join(all_names)
            return (
                f"SELECT {sel}, {wfn}, sum({m}) OVER () AS wt "
                f"FROM ({sql}) __f"
            )
        kind = "proj"
    if kind == "reagg" and nums:
        g = g_names[0]
        m = rng.choice(nums)
        hv = " HAVING count(*) >= 1" if rng.random() < 0.3 else ""
        ob = " ORDER BY 1" if rng.random() < 0.5 else ""
        return (
            f"SELECT {g}, round(sum({m}) + 1e-9, 3) AS zs, max({m}) AS zm, "
            f"count(*) AS zc FROM ({sql}) __f GROUP BY 1{hv}{ob}"
        )
    # ALWAYS project the group keys: they are the only exact row identity
    # the twin comparison can pair on — a projection of float-only columns
    # makes the repr-sort pair rows by ULP-differing sums (a comparison
    # artifact, not an engine bug; seed 20260815 trial 47)
    picked = set(rng.sample(all_names, rng.randint(1, len(all_names))))
    sel = ", ".join(n for n in all_names if n in picked or n in g_names)
    # outer WHERE only when the inner already has one: the twin surgery
    # inserts the as-of bound at the FIRST " WHERE " in string order, which
    # must be the inner's
    wpred = (
        f" WHERE {rng.choice(nums)} >= 0"
        if nums and " WHERE " in sql and rng.random() < 0.5
        else ""
    )
    if kind == "cte":
        return f"WITH __f AS ({sql}) SELECT {sel} FROM __f{wpred}"
    return f"SELECT {sel} FROM ({sql}) __f{wpred}"


def gen_scalar_sql(rng: random.Random) -> str:
    """Scalar-subquery filter (r10): the INNER global aggregate is cached;
    the outer filter runs plain and UNBOUNDED (matching the reference,
    where only the rewritten Aggregate gets the watermark bound — plain
    plan parts always scan the live table). EXACT scalars only (min/max/
    count — no re-associated float): a ULP in the threshold would flip
    boundary-row membership, a cardinality change tolerance can't absorb.
    Shape invariant the twin surgery relies on: exactly TWO `` WHERE ``
    occurrences, outer first, inner second (bound goes on the inner only).
    """
    scalar = rng.choice(
        [
            "max(value)",
            "min(value)",
            "count(*)",
            "max(value) - min(value)",
        ]
    )
    ipred = rng.choice([p for p in PREDS if p])
    iwin = rng.choice(WINDOWS)
    iconds = " AND ".join(c for c in (ipred, iwin) if c)
    op, div = rng.choice([(">", " / 2"), ("<", " * 2"), (">=", " / 4")])
    outer_pred = rng.choice(["value IS NOT NULL", "event_id >= 0"])
    order = " ORDER BY event_id" if rng.random() < 0.7 else ""
    return (
        f"SELECT event_id, event_type, value FROM events "
        f"WHERE {outer_pred} AND value {op} "
        f"(SELECT {scalar} FROM events WHERE {iconds}){div}{order}"
    )


def gen_insubq_sql(rng: random.Random) -> str:
    """IN-subquery filter (r10): the INNER aggregate is cached; its value
    column folds into the outer predicate as an IN-list and the outer
    runs plain and UNBOUNDED. EXACT inner values only (group keys, int
    min/max, count-based HAVING) — a ULP in a folded value would flip set
    membership. Same shape invariant as gen_scalar_sql: exactly TWO
    `` WHERE `` occurrences, outer first, inner second (the twin surgery
    bounds the inner alone)."""
    ipred = rng.choice([p for p in PREDS if p])
    iwin = rng.choice(WINDOWS)
    iconds = " AND ".join(c for c in (ipred, iwin) if c)
    neg = rng.choice(["", "", "NOT "])
    k = rng.randint(5, 60)
    in_expr = rng.choice(
        [
            f"event_type {neg}IN (SELECT event_type FROM events "
            f"WHERE {iconds} GROUP BY 1 HAVING count(*) > {k})",
            f"user_id {neg}IN (SELECT max(user_id) FROM events "
            f"WHERE {iconds} GROUP BY event_type)",
            f"user_id {neg}IN (SELECT min(user_id) FROM events "
            f"WHERE {iconds} GROUP BY event_type HAVING count(*) > {k})",
            # r11 uncorrelated [NOT] EXISTS: plan-time boolean fold over
            # the cached inner; count-based HAVING keeps the row-existence
            # verdict exact (the {k} range straddles both outcomes)
            f"{neg}EXISTS (SELECT event_type FROM events "
            f"WHERE {iconds} GROUP BY 1 HAVING count(*) > {k})",
            f"{neg}EXISTS (SELECT min(user_id) FROM events "
            f"WHERE {iconds} GROUP BY user_id HAVING count(*) > {k})",
            # r11 correlated [NOT] EXISTS (single-equality spelling):
            # decorrelates to coalesce(IN (SELECT DISTINCT …), FALSE);
            # the outer alias `e` makes the correlation qualifier foreign
            # to the inner's {events, __i} tables
            f"{neg}EXISTS (SELECT 1 FROM events __i WHERE {iconds} "
            f"AND __i.event_type = e.event_type)",
            # r11 correlated SCALAR (per-key threshold): decorrelates to a
            # broadcast join against the cached grouped rollup. EXACT
            # inner values only (min/max of ints — no re-association)
            f"user_id >= (SELECT min(user_id) FROM events __i "
            f"WHERE {iconds} AND __i.event_type = e.event_type)",
            f"user_id < (SELECT max(user_id) + 1 FROM events __i "
            f"WHERE {iconds} AND __i.event_type = e.event_type)",
        ]
    )
    outer_pred = rng.choice(["value IS NOT NULL", "event_id >= 0"])
    order = " ORDER BY event_id" if rng.random() < 0.7 else ""
    return (
        f"SELECT event_id, event_type, value FROM events e "
        f"WHERE {outer_pred} AND {in_expr}{order}"
    )


def gen_selscalar_sql(rng: random.Random) -> str:
    """Select-list scalar subquery (r10 share-of-total): BOTH aggregates
    are cached — the outer rollup (scalar-free fingerprint, scalar folded
    post-finalize) AND the scalar's own inner — so the twin surgery bounds
    EVERY scan (replace-all). EXACT scalars only; the outer float columns
    go through the _close tolerance like any aggregate output."""
    scalar = rng.choice(["max(value)", "min(value)", "count(*)"])
    ipred = rng.choice([p for p in PREDS if p])
    iwin = rng.choice(WINDOWS)
    iconds = " AND ".join(c for c in (ipred, iwin) if c)
    opred = rng.choice([p for p in PREDS if p])
    owin = rng.choice(WINDOWS)
    oconds = " AND ".join(c for c in (opred, owin) if c)
    g = rng.choice(GROUPS)
    ags = rng.sample(AGGS, rng.randint(1, 2))
    return (
        f"SELECT {g}, {', '.join(ags)}, "
        f"round(max(value) - (SELECT {scalar} FROM events "
        f"WHERE {iconds}) + 1e-9, 3) AS zdiff "
        f"FROM events WHERE {oconds} GROUP BY 1 ORDER BY 1"
    )


def gen_corrsel_sql(rng: random.Random) -> str:
    """Select-item correlated scalar on a non-aggregate outer (r12): the
    inner rollup is cached and broadcast-LEFT-JOINed; the outer runs plain
    and UNBOUNDED. Shape invariant: exactly ONE `` WHERE `` — the
    inner's — so the twin surgery's first-WHERE bound hits the inner
    alone (no outer WHERE is generated). EXACT inner values only (int
    min/max, count). The AggSpec-outer spelling is NOT fuzzable against
    plain Spark (SCALAR_SUBQUERY_IS_IN_GROUP_BY_OR_AGGREGATE_FUNCTION);
    it is pinned by the DuckDB-oracled tests in test_scalar_subquery.py
    and the qc ledger instead."""
    ipred = rng.choice([p for p in PREDS if p])
    iwin = rng.choice(WINDOWS)
    iconds = " AND ".join(c for c in (ipred, iwin) if c)
    item = rng.choice(
        [
            f"(SELECT min(user_id) FROM events __i WHERE {iconds} "
            f"AND __i.event_type = e.event_type) AS basev",
            f"(SELECT max(user_id) FROM events __i WHERE {iconds} "
            f"AND __i.event_type = e.event_type) AS basev",
            # count over a possibly-empty correlated set: coalesce(…, 0)
            f"(SELECT count(*) FROM events __i WHERE {iconds} "
            f"AND __i.event_type = e.event_type) AS basev",
            # TWO correlated equalities (r13): composite-key rollup
            f"(SELECT max(value) FROM events __i WHERE {iconds} "
            f"AND __i.event_type = e.event_type "
            f"AND __i.user_id % 5 = e.user_id % 5) AS basev",
            f"(SELECT count(*) FROM events __i WHERE {iconds} "
            f"AND __i.event_type = e.event_type "
            f"AND __i.user_id % 3 = e.user_id % 3) AS basev",
            # uncorrelated select-item scalar on the filter outer
            f"user_id - (SELECT max(user_id) FROM events "
            f"WHERE {iconds}) AS basev",
            # GROUPED body on its correlation key (r14): same rollup
            # entry as the ungrouped spelling; the group is a no-op
            f"(SELECT min(user_id) FROM events __i WHERE {iconds} "
            f"AND __i.event_type = e.event_type "
            f"GROUP BY __i.event_type) AS basev",
            # grouped + HAVING (r14): keys whose group fails it vanish
            # from the rollup → scalar NULL, exactly plain Spark; and a
            # GROUPED count is NULL on the filtered-out key, never 0
            f"(SELECT count(*) FROM events __i WHERE {iconds} "
            f"AND __i.event_type = e.event_type "
            f"GROUP BY __i.event_type HAVING count(*) > 3) AS basev",
            f"(SELECT max(user_id) FROM events __i WHERE {iconds} "
            f"AND __i.event_type = e.event_type "
            f"GROUP BY __i.event_type HAVING min(value) >= 0) AS basev",
        ]
    )
    order = " ORDER BY event_id" if rng.random() < 0.8 else ""
    return (
        f"SELECT event_id, event_type, user_id, {item} "
        f"FROM events e{order}"
    )


def gen_distinct_sql(rng: random.Random) -> str:
    """SELECT DISTINCT (r10): lowers to a group-by whose state is the key
    set + a hidden count item dropped at finalize. Exact-valued key
    columns only (strings/ints/buckets) — DISTINCT compares values."""
    cols = rng.sample(
        [
            "event_type",
            "user_id % 20 AS b",
            "CAST(date_trunc('day', ts) AS DATE) AS d",
            "value > 50 AS hi",
        ],
        rng.randint(1, 2),
    )
    pred = rng.choice([p for p in PREDS if p])
    win = rng.choice(WINDOWS)
    conds = " AND ".join(c for c in (pred, win) if c)
    order = " ORDER BY 1" if rng.random() < 0.6 else ""
    return (
        f"SELECT DISTINCT {', '.join(cols)} FROM events "
        f"WHERE {conds}{order}"
    )


def gen_dimjoin_sql(rng: random.Random) -> str:
    """Dim joined ABOVE a cached derived aggregate (r10): inner rollup on
    a bucket key, fz_seg joined onto the finalized result, optional
    re-aggregation to the segment level. The inner WHERE is the FIRST in
    string order, so the default twin surgery (cnt=1) bounds the right
    scan; outer shapes add no WHERE."""
    ipred = rng.choice([p for p in PREDS if p])
    iwin = rng.choice(WINDOWS)
    iconds = " AND ".join(c for c in (ipred, iwin) if c)
    inner = (
        "SELECT user_id % 50 AS bucket, count(*) AS n, max(value) AS mx "
        f"FROM events WHERE {iconds} GROUP BY 1"
    )
    how = rng.choice(["JOIN", "JOIN", "LEFT JOIN"])
    if rng.random() < 0.5:
        # re-aggregate to segment level (exact: sum of ints, max of floats)
        return (
            "SELECT segment, sum(n) AS zn, max(mx) AS zx "
            f"FROM ({inner}) x {how} fz_seg ON bucket = bucket_id "
            "GROUP BY 1 ORDER BY 1"
        )
    return (
        "SELECT bucket, segment, n, mx "
        f"FROM ({inner}) x {how} fz_seg ON bucket = bucket_id "
        "ORDER BY bucket"
    )


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _mismatch(g_rows, p_rows):
    """None when the sorted row lists match, else a short description."""
    diff = [
        (gr, pr)
        for gr, pr in zip(g_rows, p_rows)
        if not all(_close(a, b) for a, b in zip(gr, pr))
    ]
    if len(g_rows) == len(p_rows) and not diff:
        return None
    return f"MISMATCH {len(g_rows)}/{len(p_rows)} {diff[:2]}"


def _norm_row(r):
    """Canonicalize signed zeros: repr(-0.0) != repr(0.0) makes the
    repr-keyed sort pair duplicate-key UNION ALL rows crosswise when a
    near-zero rounded float lands on opposite sides of 0 (seed
    20260816101 trial 73: skewness ±0.000 → -0.0 vs 0.0, numerically
    _close but sorted apart)."""
    return tuple(
        0.0 if (isinstance(v, float) and v == 0.0) else v for v in r
    )


def _error_class(e: BaseException):
    """The bracketed Spark error class of ``e`` (``DIVIDE_BY_ZERO``), or
    None."""
    import re

    m = re.search(r"\[([A-Z][A-Z0-9_.]*)\]", str(e))
    return m.group(1) if m else None


def main() -> int:
    from pyspark.sql import functions as F

    from datafusion_query_cache_spark import (
        CachedSparkSession,
        MemoryQueryCache,
        ParquetQueryCache,
        QueryCacheConfig,
    )
    from datafusion_query_cache_spark.sources.tables import (
        get_session,
        register_testdata,
    )

    import atexit
    import shutil

    # a private warehouse per run: the managed default.events_fz twin
    # below never collides with another run started from the same dir
    warehouse = tempfile.mkdtemp(prefix="qc-fuzz-wh-")
    atexit.register(shutil.rmtree, warehouse, ignore_errors=True)
    if os.environ.get("QC_FUZZ_VANILLA"):
        # worst-case driver simulation (mirrors tools/check_oracle.py):
        # default session configs, non-UTC timezone
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("fuzz-tiers-vanilla")
            .config("spark.sql.session.timeZone", "America/Chicago")
            .config("spark.sql.warehouse.dir", warehouse)
            .getOrCreate()
        )
    else:
        spark = get_session(app="fuzz-tiers", cpus="8", warehouse=warehouse)
    spark.sparkContext.setLogLevel("ERROR")
    register_testdata(spark, SF_DIR)

    # date-partitioned twin of events, registered as a real parquet source
    # (admits the nano tier AND exercises partition pruning + the
    # temporal_partition_columns config axis)
    import os as _os
    import tempfile as _tmp

    from datafusion_query_cache_spark.sources.tables import (
        register_parquet_view,
    )

    part_path = _os.path.join(
        _tmp.gettempdir(), f"qc-fuzz-events-part-{_os.path.basename(SF_DIR)}"
    )
    if not _os.path.exists(_os.path.join(part_path, "_SUCCESS")):
        # written into a private dir, then renamed into place whole: two
        # runs started together never see each other's _temporary files
        stage_dir = _tmp.mkdtemp(prefix="qc-fuzz-stage-")
        stage = _os.path.join(stage_dir, "events-part")
        (
            spark.table("events")
            .drop("ts_ns")
            .withColumn("d", F.to_date(F.col("ts")))
            .write.mode("overwrite")
            .partitionBy("d")
            .parquet(stage)
        )
        try:
            _os.replace(stage, part_path)
        except OSError:
            pass  # another run put its copy there first
        if _os.path.exists(_os.path.join(part_path, "_SUCCESS")):
            import shutil as _sh

            _sh.rmtree(stage_dir, ignore_errors=True)
        else:
            part_path = stage  # an incomplete copy is in the way: use ours
    register_parquet_view(spark, "events_part", part_path)

    # catalog-qualified managed twin (r13): identical rows under
    # default.events_fz — qualified spellings must parse, cache, and
    # answer exactly like the bare view
    spark.table("events").write.mode("overwrite").saveAsTable(
        "default.events_fz"
    )

    # struct twin (r13): meta.t mirrors event_type for the field-path axis
    spark.table("events").withColumn(
        "meta",
        F.struct(
            F.col("event_type").alias("t"), (F.col("user_id") % 5).alias("b")
        ),
    ).createOrReplaceTempView("events_st")

    # small static dim for the star-join mode
    spark.range(50).select(
        F.col("id").alias("bucket_id"),
        F.concat(F.lit("seg"), (F.col("id") % 5).cast("string")).alias(
            "segment"
        ),
    ).createOrReplaceTempView("fz_seg")
    # FULL-composite dims (r16): ON-keyed with never-matched ghosts, and
    # a USING-keyed one with holes on both sides
    spark.sql(
        "SELECT DISTINCT event_type AS et, upper(event_type) AS big "
        "FROM events UNION ALL SELECT concat('ghost', CAST(id AS STRING)), "
        "concat('G', CAST(id AS STRING)) FROM range(4)"
    ).createOrReplaceTempView("fz_fdim")
    spark.range(14).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("u"), (F.col("id") % 3).cast("string")).alias("useg"),
    ).createOrReplaceTempView("fz_dimu")

    rng = random.Random(SEED)
    from datafusion_query_cache_spark.cache import _ParquetEntry

    _cap0 = _ParquetEntry.DRIVER_COLLECT_MAX_ROWS  # restored per trial
    _fold0 = _ParquetEntry.BPARTS_COMPACT_AT  # restored per trial
    mx_ns = int(spark.table("events").agg(F.max("ts_ns")).collect()[0][0])
    day = 24 * 3600 * 1_000_000_000

    failures = []
    tiers_seen: dict = {}
    miss_tiers: dict = {}
    corruptions = 0
    hot_reloads = memo_hits = 0
    layer_cap_trials = 0  # big-state trials run with a lowered layer cap
    full_ts_trials = 0  # FULL trials with a temporal group key
    both_raised = 0  # refreshes where the engine and its twin raised alike
    for trial in range(TRIALS):
        mode_p = rng.random()
        filter_mode = mode_p < 0.22
        join_mode = 0.22 <= mode_p < 0.34
        union_mode = 0.34 <= mode_p < 0.44
        scalar_mode = 0.44 <= mode_p < 0.52
        dimjoin_mode = 0.52 <= mode_p < 0.60
        insubq_mode = 0.60 <= mode_p < 0.66
        selscalar_mode = 0.66 <= mode_p < 0.71
        distinct_mode = 0.71 <= mode_p < 0.75
        corrsel_mode = 0.75 <= mode_p < 0.79
        fullj_mode = 0.79 <= mode_p < 0.85
        nano_mode = 0.85 <= mode_p < 0.93
        bucketk_mode = 0.93 <= mode_p < 0.97
        if filter_mode:
            sql, topk = gen_filter_sql(rng)
        elif join_mode:
            sql = gen_join_sql(rng)
        elif scalar_mode:
            sql = gen_scalar_sql(rng)
        elif insubq_mode:
            sql = gen_insubq_sql(rng)
        elif selscalar_mode:
            sql = gen_selscalar_sql(rng)
        elif distinct_mode:
            sql = gen_distinct_sql(rng)
        elif corrsel_mode:
            sql = gen_corrsel_sql(rng)
        elif dimjoin_mode:
            sql = gen_dimjoin_sql(rng)
        elif fullj_mode:
            # a quarter also group on a temporal key; a side RNG draws it,
            # as for the layer cap below
            full_ts = random.Random(f"{SEED}:{trial}:fullts").random() < 0.25
            full_ts_trials += full_ts
            sql = gen_full_sql(rng, temporal=full_ts)
        elif nano_mode:
            sql = gen_nano_sql(rng)
        elif bucketk_mode:
            sql = gen_bucket_topk_sql(rng)
        elif union_mode:
            # UNION [ALL] of two cacheable branches (r10 UnionSpec): same
            # select shape (positional arity), different predicates. Every
            # branch carries a WHERE so the twin surgery below can insert
            # the as-of bound into ALL branches with a replace-all.
            u_gs = rng.sample(GROUPS, rng.randint(1, 2))
            u_ags = rng.sample(AGGS, rng.randint(1, 3))
            p1, p2 = rng.sample([p for p in PREDS if p], 2)
            u_win = rng.choice(WINDOWS)
            u_gb = ", ".join(str(i + 1) for i in range(len(u_gs)))

            def _branch(p):
                conds = [c for c in (p, u_win) if c]
                return (
                    f"SELECT {', '.join(u_gs + u_ags)} FROM events "
                    f"WHERE {' AND '.join(conds)} GROUP BY {u_gb}"
                )

            # UNION (distinct) only over EXACT outputs: DISTINCT compares
            # values for equality, so a ULP difference in a computed float
            # aggregate (sum/avg/var — re-associated by ANY incremental
            # merge, reference included) flips row counts rather than
            # values; _close tolerance can't absorb a cardinality change.
            # min/max/counts/bit/bool/argmin preserve exact input values.
            exact = {
                "n", "nv", "mn", "mx", "de", "bo", "br", "mb", "xb",
                "ci", "sdu", "fcn", "fmn", "fxb", "fde", "rgc", "dt2",
            }
            names = {a.split(" AS ")[-1] for a in u_ags}
            # EXCEPT/INTERSECT (r10) compare branch VALUES like UNION
            # DISTINCT does — exact outputs only, same ULP argument
            kind = (
                rng.choice(
                    [" UNION ALL ", " UNION ", " EXCEPT ", " INTERSECT ",
                     " EXCEPT ALL ", " INTERSECT ALL "]
                )
                if names <= exact
                else " UNION ALL "
            )
            sql = _branch(p1) + kind + _branch(p2)
            # 25%: nested chain (r13) — a third leg on a left-nested tree;
            # distinct-style legs keep the exact-output restriction
            if rng.random() < 0.25:
                rest = [p for p in PREDS if p and p not in (p1, p2)]
                if rest:
                    kind2 = (
                        rng.choice(
                            [" UNION ALL ", " UNION ", " EXCEPT ",
                             " INTERSECT "]
                        )
                        if names <= exact and kind.strip() != "UNION ALL"
                        else " UNION ALL "
                    )
                    sql = sql + kind2 + _branch(rng.choice(rest))
        gs = rng.sample(GROUPS, rng.randint(1, 2))
        ags = rng.sample(AGGS, rng.randint(1, 4))
        pred = rng.choice(PREDS)
        win = rng.choice(WINDOWS)
        having = rng.choice(HAVINGS)
        conds = [c for c in (pred, win) if c]
        where = f" WHERE {' AND '.join(conds)}" if conds else ""
        gb = ", ".join(str(i + 1) for i in range(len(gs)))
        hv = f" HAVING {having}" if having else ""
        order = f" ORDER BY {gb}" if rng.random() < 0.7 else ""
        if rng.random() < 0.10 and not having:
            # hidden sort aggregate (r10): an EXACT aggregate that is not
            # in the select list — the engine plans it as a __qc_ord item
            # and drops it post-order; gb tiebreak keeps order total.
            # NOT combined with HAVING: plain Spark (the twin) rejects an
            # un-selected aggregate sort key above a HAVING filter
            # (UNRESOLVED_COLUMN through the Project), while DuckDB and
            # the engine both accept it — no twin to compare against
            # (seed 70707 trial 53; engine behavior pinned instead by
            # test_hidden_order.py::test_hidden_order_with_having)
            order = f" ORDER BY sum(user_id) DESC, {gb}"
        limit = " LIMIT 500" if order and rng.random() < 0.2 else ""
        if (
            not filter_mode
            and not join_mode
            and not union_mode
            and not scalar_mode
            and not insubq_mode
            and not selscalar_mode
            and not distinct_mode
            and not corrsel_mode
            and not dimjoin_mode
            and not fullj_mode
            and not nano_mode
            and not bucketk_mode
        ):
            gb_clause = f"GROUP BY {gb}"
            sel = gs + ags
            # 12%: ROLLUP/CUBE/GROUPING SETS re-aggregated from finest
            # cached state, with grouping() flags reconstructed per set —
            # the grouping-sets replay must stay exact under moving now
            if len(gs) == 2 and not having and rng.random() < 0.12:
                kind = rng.choice(
                    ["ROLLUP (1, 2)", "CUBE (1, 2)",
                     "GROUPING SETS ((1), (2), (1, 2))"]
                )
                gb_clause = f"GROUP BY {kind}"
                # grouping(<select alias>) is valid DuckDB but NOT valid
                # Spark SQL (lateral alias in grouping) — a passthrough
                # trial would explode in the plain twin, so only flag
                # plain-column keys (the engine itself handles aliases,
                # qc_rollup's grouping(d) proves it)
                plain = [x for x in gs if " AS " not in x]
                if plain:
                    sel = sel + [f"grouping({plain[0]}) AS gflag"]
                hv = ""
                order = ""
                limit = ""
            sql = (
                f"SELECT {', '.join(sel)} FROM events{where} "
                f"{gb_clause}{hv}{order}{limit}"
            )
            # 25%: wrap in a derived table / CTE with a random outer shape
            # (projection, filter, re-aggregation) — the inner aggregate
            # must stay cached and every answer exact (r10 SubquerySpec)
            if rng.random() < 0.25 and "grouping" not in sql:
                sql = wrap_subquery(sql, rng, gs, ags)

        trace = os.environ.get("QC_FUZZ_TRACE")
        if trace:
            import time as _time

            _t0 = _time.monotonic()
            print(f"trial {trial}: {sql[:200]}", flush=True)
        kw = {}
        if rng.random() < 0.3:
            kw["nano_refresh_max_bytes"] = 0
        if rng.random() < 0.15:
            kw["salt_buckets"] = 4
        if rng.random() < 0.2:
            kw["watermark_mode"] = "data"
        # 20% of single-table trials run against the date-partitioned twin
        # with partition pruning configured (results must be identical —
        # same rows, different physical layout)
        if not join_mode and not fullj_mode and rng.random() < 0.2 and "FROM events " in sql:
            sql = sql.replace("FROM events ", "FROM events_part ")
            kw["temporal_partition_columns"] = {"ts": "d"}
        # 10%: catalog-qualified spelling of the same table (r13) — the
        # qualified name must ride the cached path with exact answers
        elif not join_mode and not fullj_mode and rng.random() < 0.10 and "FROM events " in sql:
            sql = sql.replace("FROM events ", "FROM default.events_fz ")
        # 10%: struct-field spelling (r13) — meta.t ≡ event_type on the
        # struct twin; scope-aware field-path resolution must keep every
        # answer identical (plain Spark runs the same rewritten SQL).
        # Unwrapped queries only: the blanket replace would also rewrite
        # a wrapped query's OUTER projection, where `meta.t` above the
        # derived table is invalid SQL (both engines now refuse it — the
        # engine via the outer-scope check, Spark at analysis).
        elif (
            not join_mode
            and not fullj_mode
            and rng.random() < 0.10
            and "FROM events " in sql
            and "event_type" in sql
            and "FROM (" not in sql
            # Spark refuses grouping(meta.t) under an ordinal ROLLUP/CUBE
            # (GROUPING_COLUMN_MISMATCH): the plain twin could not run it
            and "grouping(" not in sql
        ):
            sql = sql.replace("FROM events ", "FROM events_st ").replace(
                "event_type", "meta.t"
            )
        # 10%: alias spelling (r14 leniency-class regression axis) — a
        # bare alias with unqualified refs is semantically identical, must
        # cache, and (fingerprint excludes the alias) shares the
        # unaliased spelling's entry; the alias-HIDDEN table name must
        # never start resolving
        elif (
            not join_mode
            and not fullj_mode
            and rng.random() < 0.10
            and "FROM events " in sql
            and "FROM (" not in sql
        ):
            # only where a clause keyword follows — the subquery shapes
            # already alias their tables (`FROM events e`) and a second
            # alias is a syntax error
            import re as _re

            sql = _re.sub(
                r"FROM events (?=(WHERE|GROUP|ORDER|PIVOT)\b)",
                "FROM events qe ",
                sql,
            )
        # 10%: derived-PROJECTION source (r14) — wrap the source in a
        # column-complete projection (tautological inner filter half the
        # time): the engine must INLINE it and produce answers identical
        # to the direct spelling; plain Spark runs the same rewritten SQL
        elif (
            not join_mode
            and not fullj_mode
            and rng.random() < 0.10
            and "FROM events " in sql
            and "FROM (" not in sql
        ):
            tr = rng.choice(
                ["", "WHERE coalesce(value, 0) > -1e18 "]
            )
            # NO alias on the wrapper: the original spelling may already
            # carry one right after "FROM events " (`FROM events e`,
            # `FROM events __i`) and `(...) t e` is a syntax error
            sql = sql.replace(
                "FROM events ",
                "FROM (SELECT event_id, ts, user_id, event_type, value, "
                f"props FROM events {tr}) ",
            )
        cache = (
            MemoryQueryCache()
            if rng.random() < 0.3 and not bucketk_mode
            else ParquetQueryCache(tempfile.mkdtemp(prefix="qc-fuzz-"))
        )
        # big-state axis (r12): force the distributed partitioned store +
        # layered bucket-tail refresh (put/put_bucket_tail) under every
        # query shape and the corruption axis, by dropping the driver-
        # collect cap — every multi-row state becomes "big"
        _ParquetEntry.DRIVER_COLLECT_MAX_ROWS = (
            BK_CAP
            if bucketk_mode
            else 5
            if isinstance(cache, ParquetQueryCache) and rng.random() < 0.15
            else _cap0
        )
        # half the big-state trials lower the layer cap, so tail-only
        # refreshes also run through a layer-pair fold (3) or the full
        # put that compacts the layers (2). A side RNG draws it: the main
        # stream, and so every other trial's draws, stay as they were.
        fold_rng = random.Random(f"{SEED}:{trial}:fold")
        _ParquetEntry.BPARTS_COMPACT_AT = (
            fold_rng.choice([2, 3])
            if _ParquetEntry.DRIVER_COLLECT_MAX_ROWS != _cap0
            and fold_rng.random() < 0.5
            else _fold0
        )
        layer_cap_trials += _ParquetEntry.BPARTS_COMPACT_AT != _fold0
        qc = CachedSparkSession(
            spark,
            QueryCacheConfig(
                cache=cache,
                default_temporal_column="ts",
                # strict: an unexpected engine fault must FAIL the trial,
                # not silently degrade to a passthrough that then compares
                # equal (r9 ADVICE — fuzz/CI rigs run loud). Expected
                # rejections (Unsupported/NotDecomposable) are unaffected.
                strict_errors=True,
                **kw,
            ),
        )

        base = mx_ns - rng.randint(2, 6) * day
        pts = [
            base,
            base + rng.randint(1, day),
            base + day + rng.randint(0, 10**9),
            ((base // day) + 3) * day,  # exact midnight edge
        ]
        # corruption axis: after a mid-flow refresh, vandalize one random
        # file under the parquet cache root — the engine must self-heal
        # (recompute as a miss) and every later answer must stay exact
        corrupt_p = float(os.environ.get("QC_FUZZ_CORRUPT_P", "0.15"))
        corrupt_at = (
            2
            if isinstance(cache, ParquetQueryCache)
            and rng.random() < corrupt_p
            else None
        )
        for i, now_ns in enumerate(pts):
            if i == corrupt_at:
                import glob as _glob

                files = [
                    f
                    for f in _glob.glob(
                        os.path.join(cache.root, "**", "*"), recursive=True
                    )
                    if os.path.isfile(f)
                ]
                if files:
                    victim = rng.choice(files)
                    with open(victim, "wb") as fh:
                        fh.write(b"\x00CORRUPT")
                    corruptions += 1
            # render the pinned instant as a literal in the SESSION
            # timezone (a naive epoch+µs repr is only correct in UTC)
            from zoneinfo import ZoneInfo

            tz = spark.conf.get("spark.sql.session.timeZone")
            lit_dt = (
                dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
                + dt.timedelta(microseconds=now_ns // 1000)
            ).astimezone(ZoneInfo(tz)).replace(tzinfo=None)
            lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"

            def twin_of(cached: bool) -> str:
                """The plain-Spark twin of ``sql`` as of ``lit``."""
                if cached:
                    s = sql.replace("now()", lit)
                    # the twin surgeries below target the TABLE's WHERE by
                    # string position — mask aggregate FILTER (WHERE …)
                    # clauses so the as-of bound never lands inside one
                    # (which would leave the table scan unbounded)
                    s = s.replace("FILTER (WHERE ", "FILTER (\x00")
                    if fullj_mode:
                        # bound the FACT SOURCE, not the joined result — a
                        # WHERE above a FULL join would kill the
                        # NULL-extended dim rows (ts IS NULL there)
                        s = s.replace(
                            "FROM events ",
                            f"FROM (SELECT * FROM events WHERE ts < {lit}) "
                            "__fz_ev ",
                            1,
                        )
                    elif scalar_mode or insubq_mode:
                        # only the INNER scalar aggregate is watermark-bounded;
                        # the plain outer scans the live table unbounded (the
                        # reference bounds only the rewritten Aggregate's
                        # input). Generated shape: outer WHERE first, inner
                        # WHERE second — bound the second alone.
                        parts = s.split(" WHERE ")
                        assert len(parts) == 3, s
                        s = (
                            parts[0]
                            + " WHERE "
                            + parts[1]
                            + f" WHERE ts < {lit} AND "
                            + parts[2]
                        )
                    elif " WHERE " in s:
                        # union branches each need the as-of bound (every
                        # union_mode branch is generated WITH a WHERE); in
                        # selscalar mode BOTH aggregates are cached, so both
                        # scans get the bound
                        cnt = -1 if (union_mode or selscalar_mode) else 1
                        s = s.replace("WHERE ", f"WHERE ts < {lit} AND ", cnt)
                    else:
                        s = s.replace(" GROUP BY", f" WHERE ts < {lit} GROUP BY", 1)
                else:
                    s = sql
                s = s.replace("FILTER (\x00", "FILTER (WHERE ")  # unmask
                return s

            qc.config.override_now_ns = now_ns
            try:
                got = qc.sql(sql)
                g_rows = sorted((_norm_row(r) for r in got.collect()), key=repr)
            except Exception as e:  # noqa: BLE001 — report, keep fuzzing
                # Spark itself raises on some inputs (ANSI: corr over a
                # group with a constant column divides 0 by 0); raising
                # the error class the plain twin raises is parity
                err = _error_class(e)
                try:
                    spark.sql(twin_of(True)).collect()
                except Exception as te:  # noqa: BLE001
                    if err is not None and err == _error_class(te):
                        both_raised += 1
                        break
                failures.append((trial, i, sql, f"ENGINE ERROR {e}"))
                break
            s = twin_of(qc.last_decision.cached)
            p_rows = sorted(
                (_norm_row(r) for r in spark.sql(s).collect()), key=repr
            )
            bad = _mismatch(g_rows, p_rows)
            if bad:
                failures.append((trial, i, sql, bad))
                break
            d = qc.last_decision
            if d.cached and not d.cache_hit:
                t = d.refresh_tier or "none"
                miss_tiers[t] = miss_tiers.get(t, 0) + 1
            if i > 0:
                t = d.refresh_tier
                tiers_seen[t] = tiers_seen.get(t, 0) + 1
            # hot reload: the same SQL at the same now reads the same rows
            # (a result-memo hit wherever the shape is memoized)
            try:
                got = qc.sql(sql)
                h_rows = sorted((_norm_row(r) for r in got.collect()), key=repr)
            except Exception as e:  # noqa: BLE001 — report, keep fuzzing
                failures.append((trial, i, sql, f"HOT RELOAD ENGINE ERROR {e}"))
                break
            hot_reloads += 1
            memo_hits += qc.last_decision.served_from_memo
            bad = _mismatch(h_rows, p_rows)
            if bad:
                failures.append((trial, i, sql, f"HOT RELOAD {bad}"))
                break
        if trace:
            import time as _time

            print(
                f"trial {trial} done in {_time.monotonic() - _t0:.1f}s",
                flush=True,
            )
        if (trial + 1) % 20 == 0:
            print(
                f"[{trial + 1}/{TRIALS}] failures={len(failures)} "
                f"tiers={tiers_seen} miss tiers={miss_tiers}",
                flush=True,
            )

    print(f"\ntiers exercised: {tiers_seen} corruptions={corruptions}")
    print(f"miss tiers: {miss_tiers}")
    print(f"hot reloads: {hot_reloads} memo hits={memo_hits}")
    print(f"big-state trials with a lowered layer cap: {layer_cap_trials}")
    print(f"FULL trials with a temporal group key: {full_ts_trials}")
    print(f"refreshes where the engine and its twin raised alike: {both_raised}")
    if failures:
        print(f"{len(failures)} FAILURES:")
        for t, i, sql, msg in failures[:20]:
            print(f"  trial {t} refresh {i}: {sql}\n    {msg[:400]}")
        return 1
    print(f"ALL OK ({TRIALS} trials)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
