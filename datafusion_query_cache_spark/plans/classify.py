"""Cache-eligibility analysis: predicate classifier + temporal group-by finder.

Re-implements (Spark-first, from behavior not code) the reference's
``DynamicLowerBound`` 4-state expression classifier
(``src/aggregate.rs:692-809``) and ``find_temporal_group_by``
(``src/aggregate.rs:51-67``), with the two deliberate fixes called out in
SURVEY §4.4:

* ``BETWEEN`` is desugared by the parser instead of panicking
  (reference ``src/aggregate.rs:786-788`` is ``todo!()``).
* Flipping ``lit < col`` comparisons preserves strictness
  (``Lt → Gt``, ``LtEq → GtEq``) — the reference inverts it
  (``src/aggregate.rs:754-757``).
"""

from __future__ import annotations

import enum
from dataclasses import dataclass
from typing import FrozenSet, Optional, Tuple

from .ir import (
    AggCall,
    BinOp,
    Case,
    Cast,
    Col,
    Expr,
    Func,
    InList,
    IsNull,
    Lit,
    Neg,
    Not,
)

#: Volatile "current time" functions — the exact set the reference matches
#: (``src/aggregate.rs:790-796``): now / current_timestamp / current_date.
VOLATILE_TIME_FNS = frozenset({"now", "current_timestamp", "current_date", "current_localtimestamp", "get_current_timestamp", "transaction_timestamp"})

#: Other volatile functions: never cacheable in any position.
VOLATILE_FNS = frozenset({"random", "rand", "uuid", "gen_random_uuid", "setseed"})

#: Deterministic scalar functions safe to appear in a cached predicate or
#: group-by. Anything not listed (and not volatile) → Abandon, mirroring the
#: reference's conservative default (``src/aggregate.rs:723-724``).
STABLE_FNS = frozenset(
    {
        "date_trunc",
        "round",
        "floor",
        "ceil",
        "ceiling",
        "abs",
        "upper",
        "lower",
        "length",
        "substr",
        "substring",
        "trim",
        "ltrim",
        "rtrim",
        "coalesce",
        "concat",
        "year",
        "month",
        "day",
        "hour",
        "minute",
        "second",
        "date_part",
        "datepart",
        "extract",
        "to_timestamp",
        "to_date",
        "strptime",
        "cast",
        "md5",
        "sqrt",
        "exp",
        "ln",
        "log",
        "power",
        "pow",
        "greatest",
        "least",
        "nullif",
        "ifnull",
        "split",
        "regexp_replace",
        "regexp_extract",
        "contains",
        "starts_with",
        "ends_with",
        "prefix",
        "suffix",
        "left",
        "right",
        "replace",
        "lpad",
        "rpad",
        # duckdb interval-construction helpers (`INTERVAL 1 DAY` lowers to
        # now() - to_days(...)): deterministic, so arithmetic over now()
        # correctly classifies as a dynamic bound, not Abandon.
        "to_days",
        "to_hours",
        "to_minutes",
        "to_seconds",
        "to_milliseconds",
        "to_microseconds",
        "to_months",
        "to_years",
        "to_weeks",
        "trunc",
    }
)


class Verdict(enum.Enum):
    """Mirrors the reference enum (``src/aggregate.rs:693-702``)."""

    STABLE = "stable"  # no dynamic time reference → cache-safe
    FOUND = "found"  # `temporal_col >= f(now())` dynamic lower bound
    FOUND_NOW = "found_now"  # bare now() not (yet) anchored to a column
    ABANDON = "abandon"  # anything we cannot prove stable


@dataclass(frozen=True)
class DynamicBound:
    """A detected ``col >= f(now())`` bound (op is '>' or '>=')."""

    column: str
    op: str
    rhs: Expr


@dataclass(frozen=True)
class Classification:
    verdict: Verdict
    bound: Optional[DynamicBound] = None
    reason: str = ""


_STABLE = Classification(Verdict.STABLE)


def _either(a: Classification, b: Classification) -> Classification:
    """Combine child classifications (reference ``src/aggregate.rs:799-808``)."""
    if a.verdict is Verdict.ABANDON or b.verdict is Verdict.ABANDON:
        return Classification(Verdict.ABANDON, reason=a.reason or b.reason or "child abandoned")
    if a.verdict is Verdict.STABLE:
        return b
    if b.verdict is Verdict.STABLE:
        return a
    # two non-stable children (two bounds, now()+bound, ...) → give up
    return Classification(Verdict.ABANDON, reason="multiple dynamic time references")


_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}


def classify(expr: Optional[Expr], temporal_columns: FrozenSet[str]) -> Classification:
    """Classify a predicate for cache safety.

    ``STABLE`` → the predicate selects the same rows regardless of when the
    query runs, so cached partial state remains valid. ``FOUND`` → a dynamic
    lower bound on a temporal column (plannable in principle; the reference
    hard-errors on it, ``src/aggregate.rs:191-193``). Everything else is not
    cacheable, but still runs — uncached.
    """
    if expr is None:
        return _STABLE

    if isinstance(expr, (Lit, Col)):
        return _STABLE

    if isinstance(expr, IsNull):
        return classify(expr.child, temporal_columns)

    if isinstance(expr, (Not, Neg)):
        inner = classify(expr.child, temporal_columns)
        if inner.verdict is Verdict.STABLE:
            return _STABLE
        return Classification(Verdict.ABANDON, reason="negation of non-stable expr")

    if isinstance(expr, Cast):
        return classify(expr.child, temporal_columns)

    if isinstance(expr, InList):
        out = classify(expr.child, temporal_columns)
        for v in expr.values:
            out = _either(out, classify(v, temporal_columns))
        if out.verdict is Verdict.STABLE:
            return out
        return Classification(Verdict.ABANDON, reason="dynamic expr inside IN list")

    if isinstance(expr, Case):
        parts = [classify(c, temporal_columns) for pair in expr.whens for c in pair]
        if expr.otherwise is not None:
            parts.append(classify(expr.otherwise, temporal_columns))
        if all(p.verdict is Verdict.STABLE for p in parts):
            return _STABLE
        return Classification(Verdict.ABANDON, reason="dynamic expr inside CASE")

    if isinstance(expr, Func):
        name = expr.name.lower()
        if name in VOLATILE_TIME_FNS:
            return Classification(Verdict.FOUND_NOW)
        if name in VOLATILE_FNS:
            return Classification(Verdict.ABANDON, reason=f"volatile function {name}")
        if name not in STABLE_FNS:
            return Classification(Verdict.ABANDON, reason=f"unknown function {name}")
        out = _STABLE
        for a in expr.args:
            out = _either(out, classify(a, temporal_columns))
        return out

    if isinstance(expr, AggCall):
        return Classification(Verdict.ABANDON, reason="aggregate inside predicate")

    if isinstance(expr, BinOp):
        op = expr.op
        left, right = expr.left, expr.right

        if op in ("<", "<=", ">", ">="):
            # Normalize column-on-left (reference flips `lit < col` →
            # `col > lit`; strictness preserved — fix of aggregate.rs:754-757).
            if not isinstance(left, Col) and isinstance(right, Col):
                left, right, op = right, left, _FLIP[op]
            lc = classify(left, temporal_columns)
            rc = classify(right, temporal_columns)
            if isinstance(left, Col) and left.name in temporal_columns and op in (">", ">="):
                if rc.verdict is Verdict.FOUND_NOW:
                    return Classification(
                        Verdict.FOUND, bound=DynamicBound(left.name, op, right)
                    )
            if lc.verdict is Verdict.STABLE and rc.verdict is Verdict.STABLE:
                return _STABLE
            return Classification(
                Verdict.ABANDON, reason=f"non-stable comparison {op}"
            )

        if op in ("and", "=", "!=", "+", "-", "*", "/", "//", "%"):
            return _either(
                classify(left, temporal_columns), classify(right, temporal_columns)
            )

        if op in ("like", "not_like", "is_distinct", "is_not_distinct"):
            lc = classify(left, temporal_columns)
            rc = classify(right, temporal_columns)
            if lc.verdict is Verdict.STABLE and rc.verdict is Verdict.STABLE:
                return _STABLE
            return Classification(Verdict.ABANDON, reason=f"non-stable {op}")

        if op == "or":
            lc = classify(left, temporal_columns)
            rc = classify(right, temporal_columns)
            if lc.verdict is Verdict.STABLE and rc.verdict is Verdict.STABLE:
                return _STABLE  # improvement over reference (OR → Abandon)
            return Classification(Verdict.ABANDON, reason="dynamic expr inside OR")

        return Classification(Verdict.ABANDON, reason=f"operator {op}")

    return Classification(Verdict.ABANDON, reason=f"expr {type(expr).__name__}")


def _flatten_and(e: Expr) -> list:
    if isinstance(e, BinOp) and e.op == "and":
        return _flatten_and(e.left) + _flatten_and(e.right)
    return [e]


def predicate_implies(stronger, weaker) -> bool:
    """True when ``stronger ⇒ weaker`` — every row satisfying ``stronger``
    satisfies ``weaker`` (sound, not complete: unknown shapes answer False).

    The semantic-cache subsumption test (filter caching): a stored row set
    with predicate W can serve a query with predicate S iff S ⇒ W, the
    classic result from semantic caching / materialized-view matching.
    Decidable fragment: conjunction lists where every ``weaker`` conjunct is
    either canon-identical to some ``stronger`` conjunct or both are
    single-column numeric range bounds on the same column (``c > 1`` ⇒
    implied by ``c > 2``, ``c >= 3``, ``c = 5``, …)."""
    import decimal as _dec

    from .ir import BinOp as _B, Col as _C, Lit as _L

    def _num(v):
        if isinstance(v, bool):
            return None
        if isinstance(v, (int, float, _dec.Decimal)):
            return v
        return None

    def _bound(e):
        """(col, op, value) for  col <op> numeric-literal  (normalized so the
        column is on the left), else None."""
        if not isinstance(e, _B) or e.op not in (">", ">=", "<", "<=", "="):
            return None
        flip = {">": "<", ">=": "<=", "<": ">", "<=": ">=", "=": "="}
        if isinstance(e.left, _C) and isinstance(e.right, _L):
            v = _num(e.right.value)
            return (e.left.name, e.op, v) if v is not None else None
        if isinstance(e.left, _L) and isinstance(e.right, _C):
            v = _num(e.left.value)
            return (e.right.name, flip[e.op], v) if v is not None else None
        return None

    def _conj_implies(s_conjs, w) -> bool:
        w_canon = w.canon()
        wb = _bound(w)
        for s in s_conjs:
            if s.canon() == w_canon:
                return True
            if wb is None:
                continue
            sb = _bound(s)
            if sb is None or sb[0] != wb[0]:
                continue
            _c, wop, wv = wb
            _, sop, sv = sb
            # {c sop sv} ⊆ {c wop wv} ?
            ok = (
                (wop == ">" and ((sop == ">" and sv >= wv) or (sop in (">=", "=") and sv > wv)))
                or (wop == ">=" and sop in (">", ">=", "=") and sv >= wv)
                or (wop == "<" and ((sop == "<" and sv <= wv) or (sop in ("<=", "=") and sv < wv)))
                or (wop == "<=" and sop in ("<", "<=", "=") and sv <= wv)
            )
            if ok:
                return True
        return False

    if weaker is None:
        return True  # anything implies TRUE
    if stronger is None:
        return False  # TRUE implies only TRUE (handled above)
    s_conjs = _flatten_and(stronger)
    return all(_conj_implies(s_conjs, w) for w in _flatten_and(weaker))


def split_dynamic_bound(
    pred: Expr, temporal_columns: FrozenSet[str]
) -> Optional[Tuple[Optional[Expr], DynamicBound]]:
    """Split ``pred`` into (stable remainder, the one dynamic lower bound).

    The reference only *detects* dynamic bounds and then refuses to plan them
    (``src/aggregate.rs:191-193``); we split the conjunction so the stable
    part parameterizes the cached state and the bound is applied at read
    time. Returns None unless the predicate is an AND of stable conjuncts
    plus exactly one ``ts >/>= f(now())`` bound.
    """
    conjuncts = _flatten_and(pred)
    bound: Optional[DynamicBound] = None
    rest: list = []
    for c in conjuncts:
        cl = classify(c, temporal_columns)
        if cl.verdict is Verdict.FOUND and cl.bound is not None:
            if bound is not None:
                return None  # two dynamic bounds
            bound = cl.bound
        elif cl.verdict is Verdict.STABLE:
            rest.append(c)
        else:
            return None
    if bound is None:
        return None
    remainder: Optional[Expr] = None
    for c in rest:
        remainder = c if remainder is None else BinOp("and", remainder, c)
    return remainder, bound


#: date_trunc granularities finer than a day
_SUB_DAY = frozenset(
    {"microsecond", "millisecond", "second", "minute", "hour"}
)


@dataclass(frozen=True)
class TemporalGroupBy:
    output_name: str
    granularity: str
    column: str


def find_temporal_group_by(
    group_by: Tuple, temporal_columns: FrozenSet[str], group_by_functions: FrozenSet[str]
) -> Tuple[Optional[TemporalGroupBy], bool]:
    """Find the (single) temporal bucket group-by expression.

    Matches ``fn(granularity_literal, temporal_col)`` where ``fn`` is in the
    configured set (reference default/demo: ``date_trunc``,
    ``examples/demo.rs:78``; match shape ``src/aggregate.rs:51-67`` — arg
    index 1 must be the temporal column).

    Returns ``(match, ok)``; ``ok=False`` when ≥2 temporal group-bys exist —
    the reference bails in that case (``src/aggregate.rs:97-104``).
    """
    found: Optional[TemporalGroupBy] = None
    for item in group_by:
        e = item.expr
        to_date = False
        while isinstance(e, Cast):  # CAST(date_trunc(...) AS DATE) still buckets
            to_date = to_date or e.to_type.upper() == "DATE"
            e = e.child
        if (
            isinstance(e, Func)
            and e.name.lower() in group_by_functions
            and len(e.args) == 2
            and isinstance(e.args[0], Lit)
            and isinstance(e.args[1], Col)
            and e.args[1].name in temporal_columns
        ):
            if found is not None:
                return None, False
            gran = str(e.args[0].value)
            if to_date and gran.lower() in _SUB_DAY:
                # a DATE cast of a sub-day truncation buckets by DAY: the
                # boundary bucket, its end and the bucket compare must all
                # be day-wide, or the recompute keeps one hour of the day
                gran = "day"
            found = TemporalGroupBy(item.name, gran, e.args[1].name)
    return found, True
