"""Algebraic partial-aggregate state: decompose / merge / finalize.

This replaces the seam the reference gets from DataFusion for free:
``AggregateExec{mode: Partial}`` produces mergeable state columns and
``AggregateExec{mode: Final}`` merges them (reference ``README.md:49-76``,
``src/aggregate.rs:384,402-409``).  Spark has the identical machinery
internally (partial/final hash aggregation) but does not expose it to
PySpark, so every supported aggregate is decomposed into explicitly-named
state columns with a merge and a finalize rule — standard algebraic
aggregation, same trick as Spark streaming state and TimescaleDB continuous
aggregates.

State column names are deterministic (``__qc{i}_{kind}``) and are part of the
fingerprint → cached-schema contract checked on cache read (SURVEY §4.3).

Aggregates with no mergeable decomposition (exact distinct, UDAFs) make the
query non-cacheable — it still runs, uncached — mirroring the reference's
Abandon verdict.  Exact median/percentile ARE decomposable here via a
run-length-encoded value histogram state (``array<struct<v,c>>``): state
size is O(distinct values) per group, which is bounded for the quantized
metric columns such states are used on (and documented as the caveat for
continuous high-cardinality inputs).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..plans.ir import (
    AggCall,
    BinOp,
    Case,
    Cast,
    Expr,
    Func,
    InList,
    IsNull,
    Lit,
    Neg,
    Not,
    SelectItem,
    Star,
    Unsupported,
)
from .compile import to_column


@dataclass
class Decomposition:
    """State/merge/finalize for ONE aggregate call.

    ``partial``: state-name → aggregate Column over raw input rows.
    ``merge``:   state-name → aggregate Column over state columns (same names
                 in and out, so merge is idempotent across refreshes).
    ``finalize``: Column over state columns producing the user-visible value.
    ``singleton``: state-name → NON-aggregate Column mapping ONE raw row to a
                 one-row state (``sum(x)`` state of a single row is just
                 ``x``). When every aggregate in a query has a singleton
                 form, the refresh plan needs only ONE aggregation:
                 ``merge(cached_state ∪ singleton(fresh_rows))`` — Spark's
                 map-side partial aggregation of the merge then *is* the
                 partial aggregation of the fresh data, which reproduces the
                 reference's ``Final(Union(Cached, Partial(fresh)))`` plan
                 (``src/aggregate.rs:386-409``) with a single shuffle.
    """

    partial: Dict[str, Column]
    merge: Dict[str, Column]
    finalize: Column
    singleton: Optional[Dict[str, Column]] = None
    #: state columns holding an array<struct<v,c>> counted multiset that
    #: compact_histogram_state() should compress to O(distinct) at store
    #: time (kept uncompacted through partial/merge, like Spark's own
    #: exact-percentile buffer)
    histogram_states: List[str] = field(default_factory=list)
    #: histogram state column -> its (cast/quantized) VALUE column. Powers
    #: the big-scan two-phase partial (r17): phase 1 groups by
    #: (keys + value), phase 2 builds the RLE array from O(distinct)
    #: subgroup counts — the expression-level collect_list partial buffers
    #: O(rows-per-group) in flight (Spark's own Percentile keeps an
    #: O(distinct) counts map), which OOMs hot groups at ~10M+ rows/group
    histogram_values: Dict[str, Column] = field(default_factory=dict)
    #: state columns holding an exact count(DISTINCT) value set — capped at
    #: store time by config.distinct_max_values (cache._check_set_*)
    set_states: List[str] = field(default_factory=list)
    #: driver-side merge of two state dicts ({state-col: python value},
    #: both non-None) — set only for aggregates whose merge is exactly
    #: reproducible in Python (count/sum/min/max/avg over non-decimal
    #: input). Powers the dynamic-bound "lite" refresh tier, which merges
    #: driver-small state on the driver instead of shipping it through a
    #: second Spark aggregate (the reference merges accumulator state
    #: in-engine the same way, ``src/aggregate.rs:402-409``).
    py_merge: Optional[Callable[[dict, dict], dict]] = None
    #: driver-side finalize of one state dict → the user-visible value
    py_finalize: Optional[Callable[[dict], object]] = None


class NotDecomposable(Exception):
    """Aggregate has no mergeable state → query runs uncached."""


def relax_nullability(dt):
    """Deep-relax a stored state dtype for casting singleton rows into it.

    Stored states carry non-null flags Spark infers from the partial
    aggregate (collect_list elements, RLE histogram struct fields); a
    nullable→non-null cast is refused, and the flags are irrelevant to the
    merge — so relax containsNull / struct-field nullability recursively.
    """
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, ArrayType):
        return ArrayType(relax_nullability(dt.elementType), True)
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, relax_nullability(f.dataType), True)
                for f in dt.fields
            ]
        )
    if isinstance(dt, MapType):
        return MapType(
            relax_nullability(dt.keyType), relax_nullability(dt.valueType), True
        )
    return dt


def _sum_compat(col: Column) -> Column:
    # merge-side sums must ignore nulls (they do) and keep integer sums exact
    return F.sum(col)


def _py_add(a, b):
    """SQL sum-merge of two partial sums: nulls are skipped, not poison."""
    if a is None:
        return b
    if b is None:
        return a
    return a + b


def _py_minmax(kind: str):
    """Spark-exact min/max merge: nulls skipped, NaN sorts GREATEST (so
    max picks NaN, min avoids it) — unlike Python's order-dependent
    min/max over NaN."""
    import math

    def _nan(v):
        return isinstance(v, float) and math.isnan(v)

    def m(a, b):
        if a is None:
            return b
        if b is None:
            return a
        if _nan(a) or _nan(b):
            if kind == "max":
                return a if _nan(a) else b
            return b if _nan(a) else a
        return max(a, b) if kind == "max" else min(a, b)

    return m


def _central_merge_exprs(fields: List[Tuple[str, str]]) -> Dict[str, Column]:
    """Merge exprs for central-moment state rows via a JVM-side array fold.

    ``fields`` is ``[(struct_key, state_col), ...]`` and must start with
    ``n``/``mean``/``m2``-style keys drawn from the vocabulary below.  The
    fold applies the pairwise Pébay/Chan combination — the same update
    Spark's own ``CentralMomentAgg.merge``/``Covariance.merge`` perform —
    so merged state matches plain Spark to fp rounding even for
    large-mean/low-variance groups, where the previous raw-power-sum state
    reconstructed central moments by catastrophic cancellation (relative
    error ~ (mean/σ)^k · ε): the round-10 advisory's medium finding.

    Keys understood: ``n`` (count), ``mean``, ``m2``, ``m3``, ``m4`` for
    the one-column moment family; ``n``, ``mx``, ``my``, ``c2``, ``m2x``,
    ``m2y`` for the two-column co-moment family.

    One ``collect_list`` + ``aggregate`` (higher-order fold, JVM-side, no
    UDF) per output column.  The merge input is O(1) rows per group —
    compacted cached state plus one fresh partial row, or a bounded bucket
    count when coarsening — never raw rows: these decompositions carry NO
    singleton form precisely so the fold's array stays tiny.  (The
    one-shuffle singleton plan would make the merge input one row per raw
    fresh row, and collect_list over a hot group would not scale.)
    """
    keys = [k for k, _ in fields]
    two_col = "mx" in keys

    lst = F.collect_list(
        F.struct(
            *[
                F.coalesce(F.col(c).cast("double"), F.lit(0.0)).alias(k)
                for k, c in fields
            ]
        )
    )
    init = F.struct(*[F.lit(0.0).alias(k) for k in keys])

    def comb(acc, x):
        n1, n2 = acc.getField("n"), x.getField("n")
        n = n1 + n2
        out = [n.alias("n")]
        if not two_col:
            delta = x.getField("mean") - acc.getField("mean")
            dn = F.when(n > 0, delta / n).otherwise(F.lit(0.0))
            out.append((acc.getField("mean") + dn * n2).alias("mean"))
            a2, b2 = acc.getField("m2"), x.getField("m2")
            out.append((a2 + b2 + delta * dn * n1 * n2).alias("m2"))
            if "m3" in keys:
                a3, b3 = acc.getField("m3"), x.getField("m3")
                out.append(
                    (
                        a3
                        + b3
                        + dn * dn * delta * n1 * n2 * (n1 - n2)
                        + F.lit(3.0) * dn * (n1 * b2 - n2 * a2)
                    ).alias("m3")
                )
            if "m4" in keys:
                a4, b4 = acc.getField("m4"), x.getField("m4")
                a3, b3 = acc.getField("m3"), x.getField("m3")
                out.append(
                    (
                        a4
                        + b4
                        + dn
                        * dn
                        * dn
                        * delta
                        * n1
                        * n2
                        * (n1 * n1 - n1 * n2 + n2 * n2)
                        + F.lit(6.0) * dn * dn * (n1 * n1 * b2 + n2 * n2 * a2)
                        + F.lit(4.0) * dn * (n1 * b3 - n2 * a3)
                    ).alias("m4")
                )
        else:
            dx = x.getField("mx") - acc.getField("mx")
            dy = x.getField("my") - acc.getField("my")
            dxn = F.when(n > 0, dx / n).otherwise(F.lit(0.0))
            dyn_ = F.when(n > 0, dy / n).otherwise(F.lit(0.0))
            out.append((acc.getField("mx") + dxn * n2).alias("mx"))
            out.append((acc.getField("my") + dyn_ * n2).alias("my"))
            out.append(
                (
                    acc.getField("c2") + x.getField("c2") + dx * dyn_ * n1 * n2
                ).alias("c2")
            )
            out.append(
                (
                    acc.getField("m2x") + x.getField("m2x") + dx * dxn * n1 * n2
                ).alias("m2x")
            )
            out.append(
                (
                    acc.getField("m2y") + x.getField("m2y") + dy * dyn_ * n1 * n2
                ).alias("m2y")
            )
        return F.struct(*out)

    merged = F.aggregate(lst, init, comb)
    out: Dict[str, Column] = {}
    for k, c in fields:
        col = merged.getField(k)
        out[c] = col.cast("long") if k == "n" else col
    return out


def _py_central_merge(fields: List[Tuple[str, str]]):
    """Driver-side mirror of :func:`_central_merge_exprs` for the lite/nano
    tiers: fold two state dicts with the identical pairwise formulas."""
    keys = [k for k, _ in fields]
    col_of = dict(fields)
    two_col = "mx" in keys

    def g(st, k):
        v = st.get(col_of[k])
        return 0.0 if v is None else float(v)

    def m(a: dict, b: dict) -> dict:
        n1, n2 = g(a, "n"), g(b, "n")
        n = n1 + n2
        out = {col_of["n"]: int(n)}
        if not two_col:
            delta = g(b, "mean") - g(a, "mean")
            dn = delta / n if n > 0 else 0.0
            out[col_of["mean"]] = g(a, "mean") + dn * n2
            a2, b2 = g(a, "m2"), g(b, "m2")
            out[col_of["m2"]] = a2 + b2 + delta * dn * n1 * n2
            if "m3" in keys:
                a3, b3 = g(a, "m3"), g(b, "m3")
                out[col_of["m3"]] = (
                    a3
                    + b3
                    + dn * dn * delta * n1 * n2 * (n1 - n2)
                    + 3.0 * dn * (n1 * b2 - n2 * a2)
                )
            if "m4" in keys:
                a4, b4 = g(a, "m4"), g(b, "m4")
                a3, b3 = g(a, "m3"), g(b, "m3")
                out[col_of["m4"]] = (
                    a4
                    + b4
                    + dn * dn * dn * delta * n1 * n2 * (n1 * n1 - n1 * n2 + n2 * n2)
                    + 6.0 * dn * dn * (n1 * n1 * b2 + n2 * n2 * a2)
                    + 4.0 * dn * (n1 * b3 - n2 * a3)
                )
        else:
            dx = g(b, "mx") - g(a, "mx")
            dy = g(b, "my") - g(a, "my")
            dxn = dx / n if n > 0 else 0.0
            dyn_ = dy / n if n > 0 else 0.0
            out[col_of["mx"]] = g(a, "mx") + dxn * n2
            out[col_of["my"]] = g(a, "my") + dyn_ * n2
            out[col_of["c2"]] = g(a, "c2") + g(b, "c2") + dx * dyn_ * n1 * n2
            out[col_of["m2x"]] = g(a, "m2x") + g(b, "m2x") + dx * dxn * n1 * n2
            out[col_of["m2y"]] = g(a, "m2y") + g(b, "m2y") + dy * dyn_ * n1 * n2
        return out

    return m


def _resolve_decimal(expr: Expr, schema) -> Optional[Tuple[int, int]]:
    """(precision, scale) when ``expr`` is decimal-typed, else None.

    Only simple shapes resolve (bare column, cast); any other expression
    over a decimal column raises NotDecomposable — the caller passes the
    query through rather than risk a wrong output type.
    """
    if schema is None:
        return None
    from pyspark.sql.types import DecimalType

    from ..plans.ir import Cast as _Cast, Col as _Col

    dec_cols = {
        f.name: (f.dataType.precision, f.dataType.scale)
        for f in schema.fields
        if isinstance(f.dataType, DecimalType)
    }
    if not dec_cols:
        return None
    if isinstance(expr, _Col):
        return dec_cols.get(expr.name)
    if isinstance(expr, _Cast):
        up = expr.to_type.upper()
        if up == "DECIMAL":
            return (38, 9)
        m = re.match(r"^DECIMAL\((\d+),(\d+)\)$", up)
        if m:
            return (int(m.group(1)), int(m.group(2)))
        return None  # cast away from decimal → target type governs
    for leaf in expr.walk():
        if isinstance(leaf, _Col) and leaf.name in dec_cols:
            raise NotDecomposable(
                f"decimal column {leaf.name} inside a composite aggregate argument"
            )
    return None


def ddsketch_quantize(a: Column, eps: float) -> Column:
    """DDSketch-style log-gamma quantization (public algorithm — Masson
    et al., VLDB'19): bin i = ceil(log_gamma |v|), representative =
    geometric bin midpoint gamma^(i-1/2) → |rep - v| / |v| <= eps for
    |v| >= 1e-12; smaller magnitudes collapse to 0; NULL propagates.
    Shared by the normal path's approx-percentile partial and the FULL
    composite's pre-state transform (__qc_ddq in the scalar compiler) —
    both sides MUST bin identically or merged histograms would mix bin
    layouts."""
    import math as _math

    lng = _math.log((1.0 + eps) / (1.0 - eps))
    mag = F.abs(a)
    bin_i = F.ceil(F.log(mag) / F.lit(lng)).cast("double")
    rep = F.exp((bin_i - F.lit(0.5)) * F.lit(lng))
    return (
        F.when(mag < F.lit(1e-12), F.lit(0.0))
        .when(a > F.lit(0.0), rep)
        .otherwise(-rep)
    )  # NULL propagates: mag NULL -> both whens NULL -> -rep is NULL


def histogram_percentile(ent: Column, pv: float) -> Column:
    """Linear-interpolated percentile at fraction ``pv`` over a
    value-sorted RLE histogram column (``array<struct<v:double,
    c:long>>``) — Spark's own Percentile semantics (rank ``p*(n-1)``
    over the expanded multiset; duplicate-``v`` entries are harmless,
    the walk only needs sorted order).

    Shared by the normal path's percentile finalize and the FULL
    composite's output position (``session._plan_full_outer_pinned``).
    HOF constraint honored: lambdas reference only their bound
    variables; the rank targets ride in the fold's init struct (outer
    expressions captured in a lambda body are re-evaluated per
    element — no CSE inside lambdas).
    """
    total = F.aggregate(
        ent, F.lit(0).cast("long"), lambda acc, e: acc + e["c"]
    )
    idx = F.lit(pv) * (total - 1).cast("double")
    lo = F.floor(idx).cast("long")
    hi = F.ceil(idx).cast("long")
    init = F.struct(
        F.lit(0).cast("long").alias("cum"),
        lo.alias("tlo"),
        hi.alias("thi"),
        F.lit(None).cast("double").alias("vlo"),
        F.lit(None).cast("double").alias("vhi"),
    )
    walk = F.aggregate(
        ent,
        init,
        lambda acc, e: F.struct(
            (acc["cum"] + e["c"]).alias("cum"),
            acc["tlo"].alias("tlo"),
            acc["thi"].alias("thi"),
            F.when(
                acc["vlo"].isNull() & ((acc["cum"] + e["c"]) > acc["tlo"]),
                e["v"],
            )
            .otherwise(acc["vlo"])
            .alias("vlo"),
            F.when(
                acc["vhi"].isNull() & ((acc["cum"] + e["c"]) > acc["thi"]),
                e["v"],
            )
            .otherwise(acc["vhi"])
            .alias("vhi"),
        ),
    )
    return F.when(
        total > 0,
        walk["vlo"] + (idx - lo.cast("double")) * (walk["vhi"] - walk["vlo"]),
    )


def decompose_agg(
    agg: AggCall, tag: str, schema=None, approx_eps=None
) -> Decomposition:
    """Decompose one aggregate call. ``tag`` makes state names unique.

    ``approx_eps`` (from ``config.approx_percentile_eps`` when
    ``config.approx_percentile_sketch`` is on, else None) enables the
    mergeable log-binned quantile sketch for ``approx_percentile`` /
    ``percentile_approx``; when None those stay NotDecomposable
    (passthrough — Spark answers them natively).

    ``schema`` (optional source StructType) enables typed handling of
    decimal inputs: the reference inherits decimal partial states from
    DataFusion for free; here sum/avg pin their state at decimal(38, s) —
    idempotent across refreshes, no precision creep — and finalize casts to
    Spark's exact output type (sum → decimal(min(38, p+10), s), avg →
    decimal(min(38, p+4), s+4), HALF_UP like Spark's own Average).
    """
    fn = agg.fn.lower()
    if agg.distinct and fn not in (
        "approx_count_distinct", "count", "sum", "avg", "mean"
    ):
        raise NotDecomposable(f"{fn}(DISTINCT) has no mergeable state")

    def arg0() -> Column:
        if not agg.args or isinstance(agg.args[0], Star):
            raise NotDecomposable(f"{fn} requires a column argument")
        return to_column(agg.args[0])

    def arg0_decimal() -> Optional[Tuple[int, int]]:
        if not agg.args or isinstance(agg.args[0], Star):
            return None
        return _resolve_decimal(agg.args[0], schema)

    s = lambda kind: f"__qc{tag}_{kind}"

    if fn in ("sum", "avg", "product") and (ps := arg0_decimal()) is not None:
        p, sc = ps
        if fn == "product":
            raise NotDecomposable("product over decimal input")
        a = arg0()
        state_t = f"decimal(38,{sc})"
        if fn == "sum":
            nm = s("sum")
            out_t = f"decimal({min(38, p + 10)},{sc})"
            return Decomposition(
                partial={nm: F.sum(a).cast(state_t)},
                merge={nm: F.sum(F.col(nm)).cast(state_t)},
                finalize=F.col(nm).cast(out_t),
                singleton={nm: a},  # session casts to stored state dtype
            )
        sm, ct = s("sum"), s("cnt")
        out_t = f"decimal({min(38, p + 4)},{min(38, sc + 4)})"
        return Decomposition(
            partial={sm: F.sum(a).cast(state_t), ct: F.count(a)},
            merge={sm: F.sum(F.col(sm)).cast(state_t), ct: F.sum(F.col(ct))},
            finalize=(F.col(sm) / F.col(ct)).cast(out_t),
            singleton={
                sm: a,
                ct: F.when(a.isNotNull(), 1).otherwise(0).cast("long"),
            },
        )
    if fn in (
        "min",
        "max",
        "count",
        "min_by",
        "max_by",
        "arg_min",
        "arg_max",
        "array_agg",
    ):
        pass  # type-preserving aggregates: decimals are safe untyped
    elif schema is not None and agg.args and not isinstance(agg.args[0], Star):
        # var/corr/etc cast to double internally — fine; but composite
        # decimal expressions inside args still raise via _resolve_decimal
        for a_expr in agg.args:
            _resolve_decimal(a_expr, schema)

    if fn in ("sum", "avg", "mean") and agg.distinct:
        # EXACT distinct sum/avg on the same capped set state as
        # count(DISTINCT); finalize folds the set with the OUTPUT type's
        # zero so integral columns promote to long exactly like Spark's
        # own sum(DISTINCT) (avg(DISTINCT) is always double for
        # non-decimal input, divided by the set size). Plain typed column
        # only — the output type must be known driver-side to seed the
        # fold.
        from ..plans.ir import Col as _Col

        if (
            len(agg.args) != 1
            or not isinstance(agg.args[0], _Col)
            or schema is None
        ):
            raise NotDecomposable("sum(DISTINCT) needs a plain typed column")
        fld = next(
            (f for f in schema.fields if f.name == agg.args[0].name), None
        )
        if fld is None:
            raise NotDecomposable("sum(DISTINCT) column not in source schema")
        from pyspark.sql.types import (
            ByteType,
            DoubleType,
            FloatType,
            IntegerType,
            LongType,
            ShortType,
        )

        if isinstance(
            fld.dataType, (ByteType, ShortType, IntegerType, LongType)
        ):
            out_t = "long"
        elif isinstance(fld.dataType, (FloatType, DoubleType)):
            out_t = "double"
        else:
            raise NotDecomposable(
                "sum(DISTINCT) over non-float/integral input"
            )
        nm = s("dset")
        a = arg0()
        if fn in ("avg", "mean"):
            out_t = "double"  # Spark avg over non-decimal is always double
        fin = F.aggregate(
            F.col(nm),
            F.lit(None).cast(out_t),
            lambda acc, x: F.coalesce(acc, F.lit(0).cast(out_t))
            + x.cast(out_t),
        )
        if fn in ("avg", "mean"):
            # empty set (all inputs NULL, or an all-state row after an
            # empty refresh window) → NULL, not ANSI divide-by-zero
            fin = F.when(
                F.array_size(F.col(nm)) > 0,
                fin / F.array_size(F.col(nm)),
            )
        return Decomposition(
            partial={nm: F.collect_set(a)},
            merge={nm: F.array_distinct(F.flatten(F.collect_list(F.col(nm))))},
            finalize=fin,
            singleton={nm: F.filter(F.array(a), lambda x: x.isNotNull())},
            set_states=[nm],
        )

    if fn == "count" and agg.distinct and len(agg.args) > 1:
        # count(DISTINCT a, b) — distinct TUPLES (r13): set state over
        # structs, rows with ANY NULL component excluded (SQL semantics);
        # same union merge / cardinality finalize as the single-arg form.
        if any(isinstance(a_, Star) for a_ in agg.args):
            raise NotDecomposable("count(DISTINCT) with *")
        cols = [to_column(a_) for a_ in agg.args]
        valid = cols[0].isNotNull()
        for c in cols[1:]:
            valid = valid & c.isNotNull()
        tup = F.struct(*[c.alias(f"f{i}") for i, c in enumerate(cols)])
        gated = F.when(valid, tup)
        nm = s("dset")
        return Decomposition(
            partial={nm: F.collect_set(gated)},
            merge={nm: F.array_distinct(F.flatten(F.collect_list(F.col(nm))))},
            finalize=F.coalesce(
                F.array_size(F.col(nm)), F.lit(0)
            ).cast("long"),
            singleton={nm: F.filter(F.array(gated), lambda x: x.isNotNull())},
            set_states=[nm],
        )

    if fn == "count" and agg.distinct:
        # EXACT distinct count, mergeable: set state (same machinery as
        # collect_set — union merge), finalize = cardinality. State is
        # O(distinct values) per group; for unbounded-cardinality columns
        # prefer approx_count_distinct (HLL state is constant-size).
        if len(agg.args) != 1 or isinstance(agg.args[0], Star):
            raise NotDecomposable("count(DISTINCT) over aggregate args")
        nm = s("dset")
        a = arg0()

        def _dset_merge(x, y):
            # set-union merge of the distinct-value lists; sorted so the
            # stored state is deterministic. Raises (→ tier fallback) on
            # unsortable element mixes.
            return {nm: sorted(set(x[nm] or []) | set(y[nm] or []))}

        # Python mirrors only for non-float SIMPLE columns: float sets
        # diverge on NaN (SQL DISTINCT counts NaN once; Python's
        # NaN != NaN keeps every copy)
        from ..plans.ir import Col as _Col

        py_ok = False
        if isinstance(agg.args[0], _Col) and schema is not None:
            from pyspark.sql.types import DoubleType, FloatType

            f = next(
                (f for f in schema.fields if f.name == agg.args[0].name), None
            )
            py_ok = f is not None and not isinstance(
                f.dataType, (FloatType, DoubleType)
            )
        return Decomposition(
            partial={nm: F.collect_set(a)},
            merge={nm: F.array_distinct(F.flatten(F.collect_list(F.col(nm))))},
            finalize=F.coalesce(
                F.array_size(F.col(nm)), F.lit(0)
            ).cast("long"),
            singleton={nm: F.filter(F.array(a), lambda x: x.isNotNull())},
            set_states=[nm],
            py_merge=_dset_merge if py_ok else None,
            py_finalize=(
                (lambda st: len(st[nm]) if st[nm] is not None else 0)
                if py_ok else None
            ),
        )

    if fn == "count":
        n = s("cnt")
        # finalize coalesces to 0: a global count over an EMPTY window (all
        # state rows filtered out, e.g. a dynamic bound in the future) merges
        # sum-over-nothing = NULL, but SQL count() of no rows is 0.
        cnt_merge = lambda a_, b_: {n: _py_add(a_[n], b_[n])}  # noqa: E731
        cnt_fin = lambda st: int(st[n]) if st[n] is not None else 0  # noqa: E731
        if not agg.args or isinstance(agg.args[0], Star):
            return Decomposition(
                partial={n: F.count(F.lit(1))},
                merge={n: _sum_compat(F.col(n))},
                finalize=F.coalesce(F.col(n), F.lit(0).cast("long")),
                singleton={n: F.lit(1).cast("long")},
                py_merge=cnt_merge,
                py_finalize=cnt_fin,
            )
        a = arg0()
        return Decomposition(
            partial={n: F.count(a)},
            merge={n: _sum_compat(F.col(n))},
            finalize=F.coalesce(F.col(n), F.lit(0).cast("long")),
            singleton={n: F.when(a.isNotNull(), 1).otherwise(0).cast("long")},
            py_merge=cnt_merge,
            py_finalize=cnt_fin,
        )

    if fn == "sum":
        nm = s("sum")
        a = arg0()
        return Decomposition(
            partial={nm: F.sum(a)},
            merge={nm: F.sum(F.col(nm))},
            finalize=F.col(nm),
            singleton={nm: a},  # session casts to the stored state dtype
            py_merge=lambda x, y: {nm: _py_add(x[nm], y[nm])},
            py_finalize=lambda st: st[nm],
        )

    if fn in ("min", "max"):
        nm = s(fn)
        f_ = F.min if fn == "min" else F.max
        a = arg0()
        return Decomposition(
            partial={nm: f_(a)},
            merge={nm: f_(F.col(nm))},
            finalize=F.col(nm),
            singleton={nm: a},
            py_merge=(
                lambda mm: lambda x, y: {nm: mm(x[nm], y[nm])}
            )(_py_minmax(fn)),
            py_finalize=lambda st: st[nm],
        )

    if fn == "avg":
        sm, ct = s("sum"), s("cnt")
        a = arg0()

        def _avg_fin(st):
            # sm/ct with ct=0 ⇒ sm is NULL ⇒ SQL null division ⇒ NULL
            if st[sm] is None or not st[ct]:
                return None
            return st[sm] / st[ct]

        return Decomposition(
            partial={sm: F.sum(a.cast("double")), ct: F.count(a)},
            merge={sm: F.sum(F.col(sm)), ct: F.sum(F.col(ct))},
            finalize=F.col(sm) / F.col(ct),
            singleton={
                sm: a.cast("double"),
                ct: F.when(a.isNotNull(), 1).otherwise(0).cast("long"),
            },
            py_merge=lambda x, y: {
                sm: _py_add(x[sm], y[sm]),
                ct: _py_add(x[ct], y[ct]),
            },
            py_finalize=_avg_fin,
        )

    if fn in ("var_samp", "var_pop", "stddev_samp", "stddev_pop"):
        # Central-moment state (n, mean, M2), merged by the pairwise
        # Pébay/Chan fold — matches Spark's own CentralMomentAgg numerics.
        # The previous raw power-sum state (n, Σx, Σx²) reconstructed M2 by
        # cancellation (wrong 4th significant digit at mean≈1e9, σ≈300:
        # round-10 advisory); M2 here is non-negative by construction, so
        # no clamp is needed.  No singleton form on purpose — see
        # _central_merge_exprs.
        ct, mn, m2n = s("cnt"), s("mean"), s("m2")
        a = arg0().cast("double")
        fields = [("n", ct), ("mean", mn), ("m2", m2n)]
        m2 = F.col(m2n)
        # ct guards: with zero (or, for _samp, one) non-null inputs the
        # answer is NULL — also keeps ANSI mode from DIVIDE_BY_ZERO.
        if fn == "var_pop":
            fin = F.when(F.col(ct) > 0, m2 / F.col(ct))
        elif fn == "var_samp":
            fin = F.when(F.col(ct) > 1, m2 / (F.col(ct) - 1))
        elif fn == "stddev_pop":
            fin = F.when(F.col(ct) > 0, F.sqrt(m2 / F.col(ct)))
        else:
            fin = F.when(F.col(ct) > 1, F.sqrt(m2 / (F.col(ct) - 1)))

        def _var_fin(st):
            # exact mirror of the SQL finalize above
            c, m2v = st[ct], st[m2n]
            need = 1 if fn in ("var_pop", "stddev_pop") else 2
            if not c or c < need or m2v is None:
                return None
            import math

            div = c if fn in ("var_pop", "stddev_pop") else c - 1
            out = m2v / div
            return math.sqrt(out) if fn.startswith("stddev") else out

        return Decomposition(
            partial={
                ct: F.count(a),
                mn: F.coalesce(F.avg(a), F.lit(0.0)),
                m2n: F.coalesce(F.var_pop(a) * F.count(a), F.lit(0.0)),
            },
            merge=_central_merge_exprs(fields),
            finalize=fin,
            py_merge=_py_central_merge(fields),
            py_finalize=_var_fin,
        )

    if fn in ("skewness", "kurtosis"):
        # Central-moment state (n, mean, M2, M3[, M4]) merged by the
        # pairwise Pébay/Chan fold — matches Spark's own CentralMomentAgg.
        # The previous raw power-sum state (Σx…Σx⁴) reconstructed M3/M4 by
        # catastrophic cancellation (skewness over mean≈1e9, σ≈300 came
        # back 3.5e4 instead of ~0: round-10 advisory, medium).  Partial
        # states derive the central sums from Spark's OWN skewness/
        # kurtosis/var_pop builtins (inverting the finalize formulas), so
        # the fresh scan never materializes a power sum at all.
        ct, mn, m2n, m3n = s("cnt"), s("mean"), s("m2"), s("m3")
        a = arg0().cast("double")
        n = F.col(ct).cast("double")
        m2 = F.col(m2n)
        vp = F.var_pop(a)
        cnt = F.count(a)
        partial = {
            ct: cnt,
            mn: F.coalesce(F.avg(a), F.lit(0.0)),
            m2n: F.coalesce(vp * cnt, F.lit(0.0)),
            # skewness = √n·M3/M2^1.5  ⇒  M3 = skew·vp^1.5·n  (NULL when
            # M2 = 0, i.e. a constant group, where M3 is exactly 0)
            m3n: F.coalesce(
                F.skewness(a) * F.pow(vp, F.lit(1.5)) * cnt, F.lit(0.0)
            ),
        }
        if fn == "skewness":
            fields = [("n", ct), ("mean", mn), ("m2", m2n), ("m3", m3n)]
            # Spark: sqrt(n) · m3 / m2^1.5, NULL when n = 0 OR m2 = 0
            # (constant group) — the m2 > 0 guard also keeps ANSI mode
            # from raising DIVIDE_BY_ZERO (closing-sweep find, seed 101010)
            fin = F.when(
                (F.col(ct) > 0) & (m2 > 0),
                F.sqrt(n) * F.col(m3n) / F.pow(m2, F.lit(1.5)),
            )

            def _skew_fin(st):
                c, m2v, m3v = st[ct], st[m2n], st[m3n]
                if not c or m2v is None or m2v <= 0 or m3v is None:
                    return None
                import math

                return math.sqrt(c) * m3v / m2v**1.5

            return Decomposition(
                partial=partial,
                merge=_central_merge_exprs(fields),
                finalize=fin,
                py_merge=_py_central_merge(fields),
                py_finalize=_skew_fin,
            )
        m4n = s("m4")
        fields = [("n", ct), ("mean", mn), ("m2", m2n), ("m3", m3n), ("m4", m4n)]
        # kurtosis = n·M4/M2² − 3  ⇒  M4 = (kurt+3)·vp²·n
        partial[m4n] = F.coalesce(
            (F.kurtosis(a) + F.lit(3.0)) * vp * vp * cnt, F.lit(0.0)
        )
        # Spark: n · m4 / m2² − 3 (excess kurtosis), NULL when m2 = 0
        fin = F.when(
            (F.col(ct) > 0) & (m2 > 0),
            n * F.col(m4n) / (m2 * m2) - F.lit(3.0),
        )

        def _kurt_fin(st):
            c, m2v, m4v = st[ct], st[m2n], st[m4n]
            if not c or m2v is None or m2v <= 0 or m4v is None:
                return None
            return c * m4v / (m2v * m2v) - 3.0

        return Decomposition(
            partial=partial,
            merge=_central_merge_exprs(fields),
            finalize=fin,
            py_merge=_py_central_merge(fields),
            py_finalize=_kurt_fin,
        )

    if fn == "hll_sketch_agg":
        # identity-state spelling (r16, used by the FULL composite): the
        # sub-plan must OUTPUT the mergeable sketch itself — finalize is
        # the state column; the composite estimates after its own merge.
        nm = s("hll")
        return Decomposition(
            partial={nm: F.hll_sketch_agg(arg0())},
            merge={nm: F.hll_union_agg(F.col(nm))},
            finalize=F.col(nm),
        )

    if fn == "approx_count_distinct":
        # The sketch trick that makes approx-distinct mergeable (SURVEY §4.3):
        # HLL sketch state unions exactly.
        nm = s("hll")
        return Decomposition(
            partial={nm: F.hll_sketch_agg(arg0())},
            merge={nm: F.hll_union_agg(F.col(nm))},
            finalize=F.hll_sketch_estimate(F.col(nm)),
        )

    if fn in ("array_agg",):
        nm = s("list")
        a = arg0()
        return Decomposition(
            partial={nm: F.collect_list(a)},
            merge={nm: F.flatten(F.collect_list(F.col(nm)))},
            finalize=F.col(nm),
            # collect_list skips nulls; singleton mirrors that with [] —
            # filter(array(a), ...) keeps the element type without an
            # empty-array literal (whose array<null> type Spark refuses to
            # cast inside a CASE branch)
            singleton={nm: F.filter(F.array(a), lambda x: x.isNotNull())},
        )

    if fn == "collect_set":
        # SURVEY §4.3: set state, merge = array_distinct ∘ flatten. The
        # reference inherits this from DataFusion's array_agg(distinct)
        # partial state. NOTE: set ORDER is engine-arbitrary (as in plain
        # Spark); order-stable consumers wrap in array_sort — which runs at
        # finalize, outside the state.
        nm = s("set")
        a = arg0()
        return Decomposition(
            partial={nm: F.collect_set(a)},
            merge={nm: F.array_distinct(F.flatten(F.collect_list(F.col(nm))))},
            finalize=F.col(nm),
            singleton={nm: F.filter(F.array(a), lambda x: x.isNotNull())},
        )

    if fn in ("bool_and", "bool_or"):
        nm = s(fn)
        f_ = F.bool_and if fn == "bool_and" else F.bool_or
        a = arg0()
        return Decomposition(
            partial={nm: f_(a)},
            merge={nm: f_(F.col(nm))},
            finalize=F.col(nm),
            singleton={nm: a},
        )

    if fn in ("bit_and", "bit_or", "bit_xor"):
        nm = s(fn)
        f_ = {"bit_and": F.bit_and, "bit_or": F.bit_or, "bit_xor": F.bit_xor}[fn]
        a = arg0()
        return Decomposition(
            partial={nm: f_(a)},
            merge={nm: f_(F.col(nm))},
            finalize=F.col(nm),
            singleton={nm: a},
        )

    if fn in ("corr", "covar_samp", "covar_pop"):
        # two-column central co-moment state: n (both non-null), mean(x),
        # mean(y), C2 = Σ(x−x̄)(y−ȳ), M2x, M2y — merged by the pairwise
        # co-moment fold (the update Spark's own Covariance/Corr agg
        # performs), replacing the raw Σx/Σxy/Σx² sums whose finalize
        # cancelled catastrophically for large-mean inputs (round-10
        # advisory).  SQL semantics: a pair with EITHER side NULL is
        # excluded from every state input, so all are gated on
        # pair-validity.
        if len(agg.args) != 2:
            raise NotDecomposable(f"{fn} requires two arguments")
        x = to_column(agg.args[0]).cast("double")
        y = to_column(agg.args[1]).cast("double")
        valid = x.isNotNull() & y.isNotNull()
        vx = F.when(valid, x)
        vy = F.when(valid, y)
        n, mxn, myn, c2n, m2xn, m2yn = (
            s("cnt"), s("mx"), s("my"), s("c2"), s("m2x"), s("m2y")
        )
        fields = [
            ("n", n), ("mx", mxn), ("my", myn),
            ("c2", c2n), ("m2x", m2xn), ("m2y", m2yn),
        ]
        cN, cC2, cM2X, cM2Y = F.col(n), F.col(c2n), F.col(m2xn), F.col(m2yn)
        if fn == "corr":
            # C2/√(M2x·M2y) ≡ the old (NΣxy−ΣxΣy)/… form, incl. its IEEE
            # NaN-on-constant-column behavior (0/0), which matches Spark
            fin = F.when(cN > 1, cC2 / (F.sqrt(cM2X) * F.sqrt(cM2Y)))
        elif fn == "covar_samp":
            fin = F.when(cN > 1, cC2 / (cN - 1))
        else:  # covar_pop
            fin = F.when(cN > 0, cC2 / cN)

        def _corr_fin(st):
            c, c2v = st[n], st[c2n]
            need = 1 if fn == "covar_pop" else 2
            if not c or c < need or c2v is None:
                return None
            import math

            if fn == "corr":
                den = math.sqrt(st[m2xn]) * math.sqrt(st[m2yn])
                if den == 0.0:
                    return float("nan") if c2v == 0.0 else math.inf * c2v
                return c2v / den
            return c2v / (c - 1) if fn == "covar_samp" else c2v / c

        pair_cnt = F.count(F.when(valid, 1))
        return Decomposition(
            partial={
                n: pair_cnt,
                mxn: F.coalesce(F.avg(vx), F.lit(0.0)),
                myn: F.coalesce(F.avg(vy), F.lit(0.0)),
                c2n: F.coalesce(F.covar_pop(x, y) * pair_cnt, F.lit(0.0)),
                m2xn: F.coalesce(F.var_pop(vx) * pair_cnt, F.lit(0.0)),
                m2yn: F.coalesce(F.var_pop(vy) * pair_cnt, F.lit(0.0)),
            },
            merge=_central_merge_exprs(fields),
            finalize=fin,
            py_merge=_py_central_merge(fields),
            py_finalize=_corr_fin,
        )

    if fn in (
        "regr_slope", "regr_intercept", "regr_r2", "regr_count",
        "regr_avgx", "regr_avgy", "regr_sxx", "regr_syy", "regr_sxy",
    ):
        # linear-regression family (r13) on the SAME central co-moment
        # state as corr/covar: n, x̄, ȳ, C2=Σ(x−x̄)(y−ȳ), M2x, M2y.
        # Argument order is regr_F(y, x) — y dependent, x independent —
        # identical in Spark and DuckDB. regr_sxx/syy/sxy are M2x/M2y/C2;
        # slope = C2/M2x; intercept = ȳ − slope·x̄; r² per the SQL
        # standard: NULL when M2x=0, 1 when M2y=0, else C2²/(M2x·M2y).
        if len(agg.args) != 2:
            raise NotDecomposable(f"{fn} requires two arguments")
        y = to_column(agg.args[0]).cast("double")  # dependent
        x = to_column(agg.args[1]).cast("double")  # independent
        valid = x.isNotNull() & y.isNotNull()
        vx = F.when(valid, x)
        vy = F.when(valid, y)
        n, mxn, myn, c2n, m2xn, m2yn = (
            s("cnt"), s("mx"), s("my"), s("c2"), s("m2x"), s("m2y")
        )
        fields = [
            ("n", n), ("mx", mxn), ("my", myn),
            ("c2", c2n), ("m2x", m2xn), ("m2y", m2yn),
        ]
        cN, cMX, cMY = F.col(n), F.col(mxn), F.col(myn)
        cC2, cM2X, cM2Y = F.col(c2n), F.col(m2xn), F.col(m2yn)
        if fn == "regr_count":
            fin = cN  # 0 on an empty pair set (standard), never NULL
        elif fn == "regr_avgx":
            fin = F.when(cN > 0, cMX)
        elif fn == "regr_avgy":
            fin = F.when(cN > 0, cMY)
        elif fn == "regr_sxx":
            fin = F.when(cN > 0, cM2X)
        elif fn == "regr_syy":
            fin = F.when(cN > 0, cM2Y)
        elif fn == "regr_sxy":
            fin = F.when(cN > 0, cC2)
        elif fn == "regr_slope":
            fin = F.when((cN > 0) & (cM2X != 0), cC2 / cM2X)
        elif fn == "regr_intercept":
            fin = F.when(
                (cN > 0) & (cM2X != 0), cMY - (cC2 / cM2X) * cMX
            )
        else:  # regr_r2
            fin = F.when(
                (cN > 0) & (cM2X != 0),
                F.when(cM2Y == F.lit(0.0), F.lit(1.0)).otherwise(
                    (cC2 * cC2) / (cM2X * cM2Y)
                ),
            )

        def _regr_fin(st, _fn=fn):
            c = st[n] or 0
            if _fn == "regr_count":
                return c
            if not c:
                return None
            if _fn == "regr_avgx":
                return st[mxn]
            if _fn == "regr_avgy":
                return st[myn]
            if _fn == "regr_sxx":
                return st[m2xn]
            if _fn == "regr_syy":
                return st[m2yn]
            if _fn == "regr_sxy":
                return st[c2n]
            if st[m2xn] == 0:
                return None
            slope = st[c2n] / st[m2xn]
            if _fn == "regr_slope":
                return slope
            if _fn == "regr_intercept":
                return st[myn] - slope * st[mxn]
            if st[m2yn] == 0:
                return 1.0
            return (st[c2n] * st[c2n]) / (st[m2xn] * st[m2yn])

        pair_cnt = F.count(F.when(valid, 1))
        return Decomposition(
            partial={
                n: pair_cnt,
                mxn: F.coalesce(F.avg(vx), F.lit(0.0)),
                myn: F.coalesce(F.avg(vy), F.lit(0.0)),
                c2n: F.coalesce(F.covar_pop(x, y) * pair_cnt, F.lit(0.0)),
                m2xn: F.coalesce(F.var_pop(vx) * pair_cnt, F.lit(0.0)),
                m2yn: F.coalesce(F.var_pop(vy) * pair_cnt, F.lit(0.0)),
            },
            merge=_central_merge_exprs(fields),
            finalize=fin,
            py_merge=_py_central_merge(fields),
            py_finalize=_regr_fin,
        )

    if fn in ("min_by", "max_by", "arg_min", "arg_max"):
        # first/last-by-timestamp machinery (SURVEY §4.3 row 8): state is the
        # argmin/argmax pair (value at extreme key, extreme key); merges by
        # re-taking the extreme over state rows.
        is_min = fn in ("min_by", "arg_min")
        if len(agg.args) != 2:
            raise NotDecomposable(f"{fn} requires (value, ordering) arguments")
        v = to_column(agg.args[0])
        k = to_column(agg.args[1])
        vn, kn = s("val"), s("key")
        f_by = F.min_by if is_min else F.max_by
        f_k = F.min if is_min else F.max
        return Decomposition(
            partial={vn: f_by(v, k), kn: f_k(k)},
            merge={vn: f_by(F.col(vn), F.col(kn)), kn: f_k(F.col(kn))},
            finalize=F.col(vn),
            singleton={vn: v, kn: k},
        )

    if fn == "__qc_hist":
        # INTERNAL (FULL composite): the RLE histogram state ITSELF as
        # the sub-plan's output — "finalize ≡ state", the same contract
        # count/sum/min/max satisfy, so the composite's A-half emits a
        # mergeable counted multiset the union merge can flatten with
        # the anti half's. Same state shape / store-time compaction /
        # percentile_max_distinct cap as the user-facing percentile.
        nm = s("hist")
        a = arg0().cast("double")
        he = F.when(
            a.isNotNull(),
            F.struct(a.alias("v"), F.lit(1).cast("long").alias("c")),
        )
        return Decomposition(
            partial={nm: F.sort_array(F.collect_list(he))},
            merge={nm: F.sort_array(F.flatten(F.collect_list(F.col(nm))))},
            finalize=F.col(nm),
            # NO singleton form (r17, the var/corr precedent): a
            # singleton plan would make the merge input one 1-entry
            # array per fresh ROW — O(tail) in-flight arrays on hot
            # groups. Without it the refresh runs the two-aggregation
            # program whose phase-1 partial is the O(distinct)
            # two-phase (see session.partial_agg).
            histogram_states=[nm],
            histogram_values={nm: a},
        )

    if fn in (
        "median", "percentile", "percentile_cont",
        "approx_percentile", "percentile_approx",
    ):
        # Exact percentile with MERGEABLE state — beyond the reference
        # (DataFusion abandons exact percentiles). State is a value-sorted
        # counted multiset ``array<struct<v:double, c:long>>``; partial and
        # merge are sort/flatten only, and the stored state is COMPACTED to
        # O(distinct values) per group by ``compact_histogram_state`` at
        # store time (DataFrame-level, not in-expression). Finalize
        # reproduces Spark's Percentile semantics: linear interpolation at
        # rank p*(n-1) over the sorted multiset; duplicate-v entries are
        # harmless (the walk only needs sorted order).
        #
        # CRITICAL perf constraint honored here: higher-order-function
        # lambdas get NO common-subexpression elimination, and any outer
        # expression captured in a lambda body is re-evaluated per element.
        # Every lambda below references ONLY its bound variables; scalars
        # needed inside the finalize walk travel in the fold's init struct.
        approx = fn in ("approx_percentile", "percentile_approx")
        if approx and approx_eps is None:
            raise NotDecomposable(
                "approx percentile sketch disabled "
                "(config.approx_percentile_sketch=False)"
            )
        if fn == "median":
            if len(agg.args) != 1:
                raise NotDecomposable("median takes one argument")
            pv = 0.5
        else:
            # approx forms take an optional literal accuracy 3rd arg —
            # accepted and ignored (the sketch's eps is config-set so all
            # spellings share one bin layout / one entry)
            nargs = (2, 3) if approx else (2,)
            if len(agg.args) not in nargs:
                raise NotDecomposable(f"{fn} requires (value, fraction)")
            import decimal

            frac = agg.args[1]
            if not isinstance(frac, Lit) or isinstance(frac.value, bool) or not isinstance(
                frac.value, (int, float, decimal.Decimal)
            ):
                raise NotDecomposable(f"{fn} fraction must be a literal")
            pv = float(frac.value)
            if not (0.0 <= pv <= 1.0):
                raise NotDecomposable(f"{fn} fraction out of [0,1]")
            if len(agg.args) == 3 and not isinstance(agg.args[2], Lit):
                raise NotDecomposable(f"{fn} accuracy must be a literal")
        nm = s("hist")
        a = arg0().cast("double")
        if approx:
            # The quantized values ride the SAME RLE-histogram state as
            # exact percentiles, but the store-time compaction collapses
            # every bin to one entry — state is O(bins) per group,
            # bounded regardless of value cardinality. Binning lives in
            # ddsketch_quantize (shared with the FULL composite).
            eps = float(approx_eps)
            if not (0.0 < eps < 0.5):
                raise NotDecomposable("approx_percentile_eps out of (0, 0.5)")
            a = ddsketch_quantize(a, eps)

        one_entry = F.when(
            a.isNotNull(),
            F.struct(a.alias("v"), F.lit(1).cast("long").alias("c")),
        )  # null value → null struct → collect_list skips it

        fin = histogram_percentile(F.col(nm), pv)
        return Decomposition(
            partial={nm: F.sort_array(F.collect_list(one_entry))},
            merge={nm: F.sort_array(F.flatten(F.collect_list(F.col(nm))))},
            finalize=fin,
            # NO singleton form (r17, the var/corr precedent): per-row
            # 1-entry arrays made the warm merge O(tail) in flight on
            # hot groups (measured 54s vs 21s plain at 100M rows); the
            # two-aggregation refresh runs the O(distinct) two-phase
            # partial over the tail instead (session.partial_agg).
            # the sketch's log-gamma bins are O(log range / eps) by
            # construction — bounded regardless of value cardinality — so
            # the percentile_max_distinct cap applies only to EXACT
            # histogram cells (the cap exists to stop unbounded exact
            # state; arming it for the sketch re-created the passthrough
            # degradation the sketch exists to avoid)
            histogram_states=[] if approx else [nm],
            histogram_values={nm: a},
        )

    if fn == "product":
        nm = s("prod")
        a = arg0()

        def _prod_merge(x, y):
            px, py_ = x[nm], y[nm]
            if px is None:
                return {nm: py_}
            if py_ is None:
                return {nm: px}
            return {nm: px * py_}

        return Decomposition(
            partial={nm: F.product(a)},
            merge={nm: F.product(F.col(nm))},
            finalize=F.col(nm),
            singleton={nm: a},
            py_merge=_prod_merge,
            py_finalize=lambda st: st[nm],
        )

    raise NotDecomposable(f"aggregate {fn} has no mergeable decomposition")


@dataclass
class ItemPlan:
    """Compiled plan for one SELECT item containing aggregates.

    The item's scalar wrapper (e.g. ``round(avg(v), 2)``) is applied at
    finalize time, *outside* the cached state — reference demo's
    ``round(avg(value), 2)`` (``examples/demo.rs:26``, ``README.md:111-113``).
    """

    name: str
    partial: Dict[str, Column] = field(default_factory=dict)
    merge: Dict[str, Column] = field(default_factory=dict)
    finalize: Optional[Column] = None
    singleton: Optional[Dict[str, Column]] = field(default_factory=dict)
    #: histogram-typed state columns needing store-time compaction
    histogram_states: List[str] = field(default_factory=list)
    #: histogram state column -> value column (see Decomposition)
    histogram_values: Dict[str, Column] = field(default_factory=dict)
    #: count(DISTINCT) set-state columns, capped at store time
    set_states: List[str] = field(default_factory=list)
    #: the item's IR expression and its (AggCall, Decomposition) pairs —
    #: retained so the driver tiers can compile a Python finalize mirror
    #: of ``finalize`` (see ``lite_plan``)
    expr: Optional[Expr] = None
    decs: List[Tuple[AggCall, Decomposition]] = field(default_factory=list)


def _round_half_up(x, d: int):
    """Spark round(): BigDecimal.valueOf(x).setScale(d, HALF_UP).

    ``BigDecimal.valueOf`` goes through ``Double.toString`` (shortest
    round-trip decimal), which Python's ``repr(float)`` reproduces — so
    quantizing ``Decimal(repr(x))`` HALF_UP matches Spark bit-for-bit for
    doubles. Integers at non-negative scale are returned unchanged."""
    if x is None:
        return None
    if isinstance(x, int) and d >= 0:
        return x
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if isinstance(x, Decimal):
        # Spark round(decimal, d) is exact decimal HALF_UP at a changed
        # scale; the float round-trip below loses precision past ~16
        # significant digits and returns the wrong type. Decimal sum/avg
        # never reach here (gated out of the driver tiers) but min/max
        # are admitted untyped — degrade to the distributed tiers.
        raise _LiteUnsupported("round() over decimal state in lite finalize")
    xf = float(x)
    if math.isnan(xf) or math.isinf(xf):
        return xf
    q = Decimal(1).scaleb(-d)
    return float(Decimal(repr(xf)).quantize(q, rounding=ROUND_HALF_UP))


class _LiteUnsupported(Exception):
    pass


def _compile_lite_fin(e: Expr, by_canon: Dict[str, Decomposition]):
    """Compile one finalize expression into a Python callable over the
    state dict — the driver-side mirror of ``_rewrite_with_finalize``,
    restricted to shapes whose Spark semantics are exactly reproducible
    in Python: bare aggregates, numeric literals, ``+ - * /`` (non-ANSI:
    null propagation, null on division by zero, ``/`` is double
    division), and HALF_UP ``round``. Anything else raises."""
    if isinstance(e, AggCall):
        dec = by_canon.get(e.canon())
        if dec is None or dec.py_finalize is None:
            raise _LiteUnsupported(f"aggregate {e.fn} has no python finalize")
        return dec.py_finalize
    if isinstance(e, Lit):
        v = e.value
        if not isinstance(v, (int, float)):
            raise _LiteUnsupported(f"literal {v!r} in lite finalize")
        return lambda st: v
    if isinstance(e, BinOp) and e.op in ("+", "-", "*", "/"):
        lf = _compile_lite_fin(e.left, by_canon)
        rf = _compile_lite_fin(e.right, by_canon)
        op = e.op

        def _bin(st):
            a, b = lf(st), rf(st)
            if a is None or b is None:
                return None
            from decimal import Decimal as _Dec

            if isinstance(a, _Dec) or isinstance(b, _Dec):
                # Spark decimal arithmetic is exact with result-scale
                # rules this float mirror can't reproduce (min/max state
                # is admitted untyped) — degrade to distributed tiers
                raise _LiteUnsupported("decimal operand in lite finalize")
            if op == "+":
                return a + b
            if op == "-":
                return a - b
            if op == "*":
                return a * b
            if b == 0:  # non-ANSI: x / 0 is NULL
                return None
            return float(a) / float(b)  # SQL `/` on non-decimals is double

        return _bin
    if isinstance(e, BinOp) and e.op in (">", ">=", "<", "<=", "=", "!="):
        lf = _compile_lite_fin(e.left, by_canon)
        rf = _compile_lite_fin(e.right, by_canon)
        op = e.op

        def _cmp(st):
            a, b = lf(st), rf(st)
            if a is None or b is None:
                return None  # SQL: NULL comparison is UNKNOWN
            from decimal import Decimal as _Dec

            if isinstance(a, _Dec) or isinstance(b, _Dec):
                # Spark casts decimal to double before comparing against a
                # float; Python compares Decimal vs float exactly — results
                # diverge near the boundary for >15-significant-digit
                # decimals (min/max state is admitted untyped) — degrade
                raise _LiteUnsupported("decimal operand in lite compare")
            return {
                ">": a > b, ">=": a >= b, "<": a < b, "<=": a <= b,
                "=": a == b, "!=": a != b,
            }[op]

        return _cmp
    if isinstance(e, BinOp) and e.op in ("and", "or"):
        lf = _compile_lite_fin(e.left, by_canon)
        rf = _compile_lite_fin(e.right, by_canon)
        is_and = e.op == "and"

        def _bool(st):
            # SQL three-valued logic: FALSE AND NULL = FALSE,
            # TRUE OR NULL = TRUE, else NULL propagates
            a, b = lf(st), rf(st)
            if is_and:
                if a is False or b is False:
                    return False
                if a is None or b is None:
                    return None
                return True
            if a is True or b is True:
                return True
            if a is None or b is None:
                return None
            return False

        return _bool
    if (
        isinstance(e, Func)
        and e.name.lower() == "round"
        and len(e.args) in (1, 2)
        and (len(e.args) == 1
             or (isinstance(e.args[1], Lit) and isinstance(e.args[1].value, int)))
    ):
        inner = _compile_lite_fin(e.args[0], by_canon)
        d = e.args[1].value if len(e.args) == 2 else 0
        return lambda st: _round_half_up(inner(st), d)
    raise _LiteUnsupported(f"expression {type(e).__name__} in lite finalize")


def lite_plan(plans: List["ItemPlan"]):
    """Driver-merge program for the dynamic-bound lite tier, or None.

    Returns ``{"merges": [callable(dict, dict) -> dict], "fins":
    {item name: callable(dict) -> value}}`` where each merge callable
    reads its own state columns from the full state dict and returns the
    merged values for them (caller folds the partial dicts together).
    Distinct-aggregate state shared across items merges exactly once.
    None ⇔ some aggregate or finalize shape has no exact Python mirror."""
    merges = []
    fins: Dict[str, Callable] = {}
    seen_cols = set()
    by_canon: Dict[str, Decomposition] = {}
    for p in plans:
        if p.expr is None or not p.decs:
            return None
        for a, dec in p.decs:
            by_canon[a.canon()] = dec
    for dec in by_canon.values():
        if dec.py_merge is None:
            return None
        cols = tuple(dec.partial.keys())
        if cols in seen_cols:
            continue
        seen_cols.add(cols)
        merges.append(dec.py_merge)
    for p in plans:
        try:
            fins[p.name] = _compile_lite_fin(p.expr, by_canon)
        except _LiteUnsupported:
            return None
    return {"merges": merges, "fins": fins}


def _rewrite_with_finalize(e: Expr, fin_map: Dict[AggCall, Column]) -> Column:
    """Compile an expr tree, substituting each AggCall's finalize Column."""
    if isinstance(e, AggCall):
        return fin_map[e]

    if isinstance(e, Func):
        # scalar over aggregates: compile args recursively, reuse the scalar
        # builders from compile.py by building a temporary Func over columns
        from .compile import _FUNCS  # noqa: deliberate internal reuse

        builder = _FUNCS.get(e.name.lower())
        if builder is None:
            raise Unsupported(f"scalar function {e.name} in aggregate select")
        args = []
        for a in e.args:
            if isinstance(a, Lit) and e.name.lower() in (
                "date_trunc",
                "round",
                "substr",
                "substring",
                "power",
                "pow",
                "array_join",
                "array_to_string",
            ):
                args.append(a.value)
            elif _has_agg(a):
                args.append(_rewrite_with_finalize(a, fin_map))
            else:
                args.append(to_column(a))
        return builder(*args)

    if isinstance(e, BinOp):
        l = _rewrite_with_finalize(e.left, fin_map) if _has_agg(e.left) else to_column(e.left)
        r = _rewrite_with_finalize(e.right, fin_map) if _has_agg(e.right) else to_column(e.right)
        op = e.op
        ops = {
            "+": lambda: l + r,
            "-": lambda: l - r,
            "*": lambda: l * r,
            "/": lambda: l / r,
            "%": lambda: l % r,
            "=": lambda: l == r,
            "!=": lambda: l != r,
            ">": lambda: l > r,
            ">=": lambda: l >= r,
            "<": lambda: l < r,
            "<=": lambda: l <= r,
            "and": lambda: l & r,
            "or": lambda: l | r,
        }
        if op not in ops:
            raise Unsupported(f"binop {op} over aggregate")
        return ops[op]()

    if isinstance(e, Cast):
        from .compile import spark_type_for

        return _rewrite_with_finalize(e.child, fin_map).cast(spark_type_for(e.to_type))

    if isinstance(e, Neg):
        return -_rewrite_with_finalize(e.child, fin_map)

    if isinstance(e, Case):
        # CASE over aggregates (e.g. the PIVOT presence guard: CASE WHEN
        # count(matching) > 0 THEN cell END) — compile each branch,
        # substituting finalizes wherever an aggregate appears
        def _leg(x):
            return (
                _rewrite_with_finalize(x, fin_map)
                if _has_agg(x)
                else to_column(x)
            )

        col = None
        for c, v in e.whens:
            col = (
                F.when(_leg(c), _leg(v))
                if col is None
                else col.when(_leg(c), _leg(v))
            )
        if e.otherwise is not None:
            col = col.otherwise(_leg(e.otherwise))
        return col

    return to_column(e)


def _has_agg(e: Expr) -> bool:
    return any(isinstance(n, AggCall) for n in e.walk())


def plan_items(
    items: Tuple[SelectItem, ...], schema=None, approx_eps=None
) -> List[ItemPlan]:
    """Build per-item plans; identical AggCalls share state columns."""
    plans: List[ItemPlan] = []
    seen: Dict[str, Tuple[AggCall, Decomposition]] = {}
    counter = 0
    for item in items:
        aggs = [n for n in item.expr.walk() if isinstance(n, AggCall)]
        if not aggs:
            raise Unsupported(f"select item {item.name} has no aggregate")
        plan = ItemPlan(name=item.name, expr=item.expr)
        fin_map: Dict[AggCall, Column] = {}
        for a in aggs:
            key = a.canon()
            if key in seen:
                dec = seen[key][1]
                plan.decs.append((a, dec))
            else:
                dec = decompose_agg(a, str(counter), schema, approx_eps)
                counter += 1
                seen[key] = (a, dec)
                plan.partial.update(dec.partial)
                plan.merge.update(dec.merge)
                plan.histogram_states.extend(dec.histogram_states)
                plan.histogram_values.update(dec.histogram_values)
                plan.set_states.extend(dec.set_states)
                if dec.singleton is None:
                    plan.singleton = None
                elif plan.singleton is not None:
                    plan.singleton.update(dec.singleton)
                plan.decs.append((a, dec))
            fin_map[a] = dec.finalize
        plan.finalize = _rewrite_with_finalize(item.expr, fin_map).alias(
            item.name
        )
        plans.append(plan)
    return plans
