"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import datetime as dt
import math

import pytest

from types import SimpleNamespace

from perfbench.fixture import BASE_NS, DAY, DAYS, make_schedule
from perfbench.oracle import canon, same_result, ts_literal
from perfbench.run import NANO_REFRESH_PY4J_CALLS, load_p50, self_check
from perfbench.stats import percentile, percentile_reportable, quartiles, rel_spread
from perfbench.tracing import LAYER_METRICS, Tracer, self_times, union_length
from perfbench.workloads import SMALL_PANELS, OpRecord, tier_counts


# -- span self-time arithmetic ------------------------------------------------


def test_union_length_merges_overlaps_and_gaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 5), (1, 2), (3, 4)]) == 5
    assert union_length([(1, 2), (0, 1)]) == 2


def test_self_time_subtracts_children_once():
    spans = [
        ["op", 0.0, 10.0, -1],
        ["session.sql", 1.0, 7.0, 0],
        ["py4j", 2.0, 3.0, 1],
        ["py4j", 4.0, 4.5, 1],
        ["session.collect", 7.0, 9.0, 0],
    ]
    assert self_times(spans) == pytest.approx([2.0, 4.5, 1.0, 0.5, 2.0])
    # self times of a tree add up to the root's duration
    assert sum(self_times(spans)) == pytest.approx(10.0)


def test_self_time_clips_children_and_counts_overlap_once():
    spans = [
        ["a", 0.0, 4.0, -1],
        ["b", 1.0, 3.0, 0],
        ["c", 2.0, 6.0, 0],  # overlaps b and runs past its parent
    ]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_tracer_nests_spans_and_keeps_reentrant_calls_inside():
    t = Tracer()

    def fib(n):
        return n if n < 2 else wrapped(n - 1) + wrapped(n - 2)

    wrapped = t.wrap("layer", fib)
    t.on, t.op_id = True, 7
    root = t.enter("op")
    assert wrapped(6) == 8
    t.exit(root)
    names = [s[0] for s in t.spans]
    assert names == ["op", "layer"]  # recursion is one call, one span
    assert t.spans[1][3] == 0 and t.spans[1][4] == 7


def test_tracer_records_nothing_when_off():
    t = Tracer()
    f = t.wrap("layer", lambda x: x + 1)
    assert f(1) == 2
    assert t.spans == []


# -- tier counts and the self-check -------------------------------------------


def _decision(cached, tier):
    return SimpleNamespace(cached=cached, refresh_tier=tier)


@pytest.mark.parametrize("tier, counted", [
    ("nano", "session.tier_nano"), ("classic", "session.tier_classic"),
    ("topk", "session.tier_other"), ("rowset", "session.tier_other"),
    (None, "session.tier_none"),
])
def test_a_cached_op_counts_under_exactly_one_tier(tier, counted):
    c = tier_counts(_decision(True, tier))
    tiers = {k: v for k, v in c.items() if k.startswith("session.tier_")}
    assert tiers[counted] == 1.0
    assert sum(tiers.values()) == c["session.cached_frac"] == 1.0
    assert set(c) <= set(LAYER_METRICS)


def test_a_passthrough_counts_under_no_tier():
    for d in (None, _decision(False, None)):
        c = tier_counts(d)
        assert sum(c.values()) == 0.0


def _traced(kind, panel, **layers):
    rec = OpRecord(kind, panel, 0, 1, True, traced=True)
    base = {"session.tier_nano": 0.0, "py4j.calls": 0, "spark.jobs": 0, "nano.calls": 0}
    rec.layers = {**base, **layers}
    return rec


def test_self_check_passes_on_the_known_counts():
    recs = [_traced("refresh", "daily_window", **{"session.tier_nano": 1.0, "py4j.calls": n})
            for n in (50, 51, 53)]
    recs.append(_traced("refresh", "moving_avg", **{"session.tier_nano": 1.0,
                                                    "py4j.calls": 235, "spark.jobs": 2}))
    ok, seen = self_check("small_dashboard", recs)
    assert ok, seen
    assert self_check("big_state", [_traced("refresh", "hicard_25d")])[0]


def test_self_check_fails_when_a_count_is_off():
    def dyn(calls, jobs=0):
        return [_traced("refresh", "daily_window",
                        **{"session.tier_nano": 1.0, "py4j.calls": calls, "spark.jobs": jobs})]

    assert not self_check("small_dashboard", dyn(2 * NANO_REFRESH_PY4J_CALLS))[0]
    assert not self_check("small_dashboard", dyn(NANO_REFRESH_PY4J_CALLS // 2))[0]
    assert not self_check("small_dashboard", dyn(NANO_REFRESH_PY4J_CALLS, jobs=1))[0]
    # nothing nano-served to compare with is a failure, not a pass
    assert not self_check("small_dashboard", [_traced("refresh", "daily_window")])[0]
    assert not self_check("big_state", [_traced("refresh", "hicard_25d", **{"nano.calls": 1})])[0]
    assert not self_check("big_state", [])[0]


# -- percentiles and spread ---------------------------------------------------


def test_p90_needs_ten_samples_beyond_it():
    assert not percentile_reportable(99, 90)
    assert percentile_reportable(100, 90)
    assert not percentile_reportable(999, 99)
    assert percentile_reportable(1000, 99)
    assert percentile_reportable(20, 50)
    assert percentile(list(range(99)), 90) is None
    xs = list(range(1, 101))
    assert percentile(xs, 90) == 90
    assert sum(x > percentile(xs, 90) for x in xs) == 10


def test_quartiles_match_statistics_module_and_spread():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    assert quartiles(xs)[1] == 3.0
    assert quartiles([2.0]) == (2.0, 2.0, 2.0)
    assert rel_spread([2.0, 2.0, 2.0]) == 0.0
    assert rel_spread(xs) == pytest.approx((4.5 - 1.5) / 3.0)


def test_load_p50_sums_each_panels_median():
    def op(kind, panel, wall, plain=None, measured=True):
        rec = OpRecord(kind, panel, 0, 1, measured)
        rec.wall_s, rec.plain_s = wall, plain
        return rec

    recs = [op("refresh", "a", w) for w in (1.0, 2.0, 9.0)]
    recs += [op("refresh", "b", w, plain=p) for w, p in ((0.5, 4.0), (0.1, None), (0.3, 6.0))]
    recs += [op("hot", "a", 7.0), op("refresh", "b", 50.0, measured=False)]
    # a slow op of one panel moves only that panel's median
    assert load_p50(recs, "refresh") == pytest.approx(2.0 + 0.3)
    assert load_p50(recs, "refresh", plain=True) == pytest.approx(5.0)
    assert load_p50(recs, "hot") == 7.0


# -- oracle comparator --------------------------------------------------------


def test_comparator_ignores_order_and_float_noise():
    got = [(2, 0.1 + 0.2), (1, 3.0)]
    want = [(1, 3.0), (2, 0.3)]
    assert same_result(got, want)


def test_comparator_tolerates_a_rounding_boundary():
    # 5-decimal rounding sends these to 106.85063 and 106.85062
    got, want = [("h", 106.85062500000001)], [("h", 106.85062499999999)]
    assert canon(got) != canon(want)
    assert same_result(got, want)


def test_comparator_sees_real_differences():
    assert not same_result([(1, 3.0)], [(1, 3.0001)])
    assert not same_result([(1, 3.0)], [(1, 3.0), (1, 3.0)])  # multiset
    assert not same_result([(1, None)], [(1, 0.0)])
    assert same_result([(float("nan"),)], [(math.nan,)])


def test_comparator_normalizes_timestamps_and_dates():
    a = [(dt.datetime(2024, 1, 2, 3, 0, 0), dt.date(2024, 1, 2))]
    assert canon(a) == [("2024-01-02 03:00:00", "2024-01-02")]
    b = [(dt.datetime(2024, 1, 2, 3, 0, 0, 500000),)]
    assert canon(b) == [("2024-01-02 03:00:00.5",)]


def test_ts_literal_is_exact_and_refuses_sub_microsecond():
    ns = int(dt.datetime(2024, 1, 21, 6, 30, tzinfo=dt.timezone.utc).timestamp()) * 10**9
    assert ts_literal(ns) == "TIMESTAMP '2024-01-21 06:30:00.000000'"
    with pytest.raises(ValueError):
        ts_literal(ns + 1)


# -- schedules and panels -----------------------------------------------------


def test_schedule_is_a_function_of_the_seed():
    a, b = make_schedule("small_dashboard", 5), make_schedule("small_dashboard", 5)
    assert a == b
    assert make_schedule("small_dashboard", 6) != a
    assert all(x < y for x, y in zip([a.cut_ns] + a.nows, a.nows))
    assert len(a.hot) == len(a.nows) and 0 < sum(a.hot)
    assert a.nows[-1] <= BASE_NS + (DAYS - 1) * DAY


def test_oracle_sql_bounds_the_same_query_as_of_now():
    s = make_schedule("small_dashboard", 1)
    dyn = next(p for p in SMALL_PANELS if p.name == "daily_window")
    cached = dyn.sql(s.lits)
    assert f"now() - INTERVAL {s.lits['dyn_days']} DAY" in cached
    oracle = dyn.oracle_sql(s.lits, s.nows[0])
    assert "now()" not in oracle
    assert f"ts > {ts_literal(s.nows[0] - s.lits['dyn_days'] * DAY)}" in oracle
    assert f"AND ts < {ts_literal(s.nows[0])}" in oracle
