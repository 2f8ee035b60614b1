"""SQL → mini-IR front-end, via DuckDB's ``json_serialize_sql``.

The reference gets its logical plan for free from DataFusion's parser
(``src/lib.rs``, ``examples/demo.rs:28`` — ``ctx.sql``).  From PySpark we
cannot see Catalyst's analyzed plan as a structured object, so we parse the
SQL ourselves with DuckDB's parser (already a hard dependency of the test
oracle) and lower its JSON AST into the mini-IR in :mod:`.ir`.

Anything outside the supported single-table aggregate shape raises
:class:`~.ir.Unsupported`, and the session falls back to plain
``spark.sql(sql)`` — the reference's pass-through behavior for non-Aggregate
plans (``src/aggregate.rs:85-88``).
"""

from __future__ import annotations

import decimal
import json
import re as _re
from typing import Any, Dict, List, Optional, Tuple

import duckdb


def _base_table_name(ft: Dict[str, Any]) -> str:
    """``[catalog.]schema.table`` → the dot-joined qualified name, which
    Spark's session catalog resolves natively (``spark.table('db.t')`` /
    ``spark.table('cat.db.t')``); bare names stay bare. The qualified
    SPELLING is part of the spec canon and so the fingerprint —
    ``default.events`` and ``events`` get separate entries even when they
    resolve to one table (conservative: never shares state across names
    whose equivalence we cannot see from the AST)."""
    parts = (ft.get("catalog_name"), ft.get("schema_name"), ft["table_name"])
    return ".".join(p for p in parts if p)


#: Stack of visible relation names (lowercased table names / aliases) for
#: the SELECT scope currently being lowered — lets COLUMN_REF lowering
#: tell a TABLE qualifier (dropped) from a STRUCT column root (kept as a
#: dotted field path). Single-threaded per parse; pushed by
#: _lower_select and the decorrelation key lowering.
_SCOPE: List[set] = []

#: Active schema lookup (``name -> list[str] | None``) for the duration
#: of one parse_query call — lets _visible_names record per-relation
#: column sets so qualified refs can be membership-checked against the
#: relation they name. Stack-shaped for reentrancy; top may be None.
_SCHEMA_LOOKUP: List = []

#: Lowercased CTE names declared ANYWHERE in the current statement
#: (stack-shaped, parallel to _SCHEMA_LOOKUP). duckdb emits CTE
#: references as BASE_TABLE nodes, so a CTE shadowing a registered
#: view's name would otherwise be membership-checked against the VIEW's
#: column set (r15 ADVICE): spurious refusals when the CTE has extra
#: columns, silently inert when the schemas overlap. For these names
#: membership is UNKNOWN — _visible_names leaves ``cols`` unpopulated.
_CTE_SHADOW: List[set] = []


class _ScopeSet(set):
    """Visible relation names, plus the table names an alias HID.

    A ref qualified by a hidden name (``FROM events e … events.value``)
    is INVALID SQL — but lowering it as a struct path would resolve
    through the DataFrame's internal qualifier (``F.col("events.value")``
    matches the base relation regardless of the SQL alias) and silently
    ANSWER it. Tracking the hidden names lets COLUMN_REF lowering refuse
    instead (→ passthrough → Spark's own loud error; r14 probe find —
    the r13 alias-hiding class, top-level edition)."""

    def __init__(self, *a):
        super().__init__(*a)
        self.hidden: set = set()
        #: USING-join key names: a SIDE-QUALIFIED ref to one (``u.k``)
        #: is NOT the merged column — under LEFT USING the right side is
        #: NULL on unmatched rows — so qualified access must refuse
        #: (qualifier-dropping would silently serve the merged value)
        self.using_keys: set = set()
        #: per-relation column sets (lowercased), where KNOWN (base
        #: tables resolved via the session's schema lookup). Qualified
        #: refs must name a column OF the qualifying relation — plain
        #: qualifier-dropping answered ``rj_seg.value`` with the OTHER
        #: side's column when Spark refuses (r15 fuzz find). Absent
        #: entry → membership unknown → legacy leniency-free drop only
        #: for names that do resolve downstream.
        self.cols: Dict[str, set] = {}


def _scope_col_membership(name: str):
    """Is ``name`` a COLUMN of some visible relation? ``True`` when a
    known relation carries it, ``False`` when EVERY visible relation's
    column set is known and none carries it, ``None`` when membership is
    unknowable (unregistered relations, derived tables). Drives Spark's
    GROUP BY resolution order (real column first, select alias second):
    duckdb binds the ALIAS first, so blind alias substitution ANSWERED
    queries Spark refuses with MISSING_AGGREGATION when the alias
    shadows a real column (r16 probe find, the standing leniency
    class)."""
    if not _SCOPE:
        return None
    sc = _SCOPE[-1]
    cols = getattr(sc, "cols", {})
    low = name.lower()
    if any(low in cs for cs in cols.values()):
        return True
    if sc and all(v in cols for v in sc):
        return False
    return None


def _visible_names(ft: Dict[str, Any]) -> "_ScopeSet":
    """Lowercased relation names visible in a FROM tree: an alias REPLACES
    the table name it binds (SQL alias hiding; the replaced names are
    recorded on ``.hidden``)."""
    out = _ScopeSet()

    def walk(n) -> None:
        if not isinstance(n, dict):
            return
        t = n.get("type")
        if t == "BASE_TABLE":
            lookup = _SCHEMA_LOOKUP[-1] if _SCHEMA_LOOKUP else None
            base = _base_table_name(n)
            if (
                _CTE_SHADOW
                and base.lower() in _CTE_SHADOW[-1]
            ):
                # a CTE declared in this statement shadows the name: the
                # catalog's column set is the WRONG relation — membership
                # unknown (cols unpopulated → legacy drop-only handling)
                lookup = None
            known = lookup(base) if lookup else None
            colset = {c.lower() for c in known} if known else None
            alias = n.get("alias") or ""
            if alias:
                out.add(alias.lower())
                if colset is not None:
                    out.cols[alias.lower()] = colset
                if n.get("table_name"):
                    out.hidden.add(n["table_name"].lower())
                out.hidden.add(_base_table_name(n).lower())
            else:
                if n.get("table_name"):
                    out.add(n["table_name"].lower())
                    if colset is not None:
                        out.cols[n["table_name"].lower()] = colset
                out.add(_base_table_name(n).lower())
                if colset is not None:
                    out.cols[_base_table_name(n).lower()] = colset
            return
        if t == "JOIN":
            out.using_keys |= {
                c.lower() for c in (n.get("using_columns") or ())
            }
            walk(n.get("left"))
            walk(n.get("right"))
            return
        if t in ("SUBQUERY", "PIVOT"):
            alias = n.get("alias") or ""
            if alias:
                out.add(alias.lower())
            return

    walk(ft)
    out.hidden -= set(out)  # a name visible via another relation stays
    return out


def _df_offset_available() -> bool:
    """``DataFrame.offset`` exists from PySpark 3.5 (classic). On older
    runtimes LIMIT … OFFSET must refuse at parse time (→ passthrough)
    instead of raising AttributeError at finalize time."""
    try:
        from pyspark.sql import DataFrame as _DF

        return hasattr(_DF, "offset")
    except Exception:  # pragma: no cover - pyspark always importable here
        return True

from .ir import (
    AggCall,
    AggSpec,
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
    OrderItem,
    SelectItem,
    Star,
    Unsupported,
)

# Aggregate function vocabulary we recognize (decomposability is decided
# later, in functions/partial.py — parsing recognizes a superset).
AGG_FUNCTIONS = {
    "count",
    "count_star",
    "sum",
    "min",
    "max",
    "avg",
    "mean",
    "var_samp",
    "var_pop",
    "variance",
    "stddev",
    "stddev_samp",
    "stddev_pop",
    "approx_count_distinct",
    "first",
    "last",
    "arbitrary",
    "min_by",
    "max_by",
    "arg_min",
    "arg_max",
    "corr",
    "covar_samp",
    "covar_pop",
    "regr_slope",
    "regr_intercept",
    "regr_r2",
    "regr_count",
    "regr_avgx",
    "regr_avgy",
    "regr_sxx",
    "regr_syy",
    "regr_sxy",
    "skewness",
    "kurtosis",
    "list",
    "array_agg",
    "collect_set",
    "string_agg",
    "median",
    "mode",
    "quantile",
    "percentile",
    "percentile_cont",
    "approx_percentile",
    "percentile_approx",
    "approx_quantile",
    "bool_and",
    "bool_or",
    "bit_and",
    "bit_or",
    "bit_xor",
    "product",
}

_COMPARE_OPS = {
    "COMPARE_EQUAL": "=",
    "COMPARE_NOTEQUAL": "!=",
    "COMPARE_GREATERTHAN": ">",
    "COMPARE_GREATERTHANOREQUALTO": ">=",
    "COMPARE_LESSTHAN": "<",
    "COMPARE_LESSTHANOREQUALTO": "<=",
    # null-safe (in)equality: Spark's <=> / NOT <=>
    "COMPARE_DISTINCT_FROM": "is_distinct",
    "COMPARE_NOT_DISTINCT_FROM": "is_not_distinct",
}

_OPERATOR_FUNCS = {
    "+": "+",
    "-": "-",
    "*": "*",
    "/": "/",
    "//": "//",
    "%": "%",
    "~~": "like",
    "!~~": "not_like",
    "||": "concat",
}


#: Spark SQL spellings → duckdb-parseable equivalents, OUTSIDE string
#: literals: backtick identifier quoting → double quotes, and the schema
#: name ``default`` (unreserved in Spark, where it is the stock database;
#: reserved in duckdb) double-quoted when used as a dotted qualifier.
_DUCKDBIFY_RE = _re.compile(
    r"('(?:[^']|'')*')"  # single-quoted string (with '' escapes): untouched
    r"|`([^`]+)`"  # backtick-quoted identifier
    r"|\b([Dd][Ee][Ff][Aa][Uu][Ll][Tt])\b(?=\s*\.)"  # default-as-qualifier
)


def _duckdbify(sql: str) -> str:
    def repl(m):
        if m.group(1) is not None:
            return m.group(1)
        ident = m.group(2) if m.group(2) is not None else m.group(3)
        return '"' + ident.replace('"', '""') + '"'

    return _DUCKDBIFY_RE.sub(repl, sql)


def _parse_json_ast(sql: str) -> Dict[str, Any]:
    esc = _duckdbify(sql).replace("'", "''")
    raw = duckdb.execute(f"select json_serialize_sql('{esc}')").fetchone()[0]
    doc = json.loads(raw)
    if doc.get("error"):
        raise Unsupported(f"parse error: {doc.get('error_message')}")
    stmts = doc.get("statements", [])
    if len(stmts) != 1:
        raise Unsupported("multi-statement")
    return stmts[0]["node"]


def _type_id(t: Dict[str, Any]) -> str:
    """duckdb type node → dtype string; decimals keep (width,scale)."""
    tid = t["id"]
    ti = t.get("type_info") or {}
    if tid == "DECIMAL" and "width" in ti:
        return f"DECIMAL({ti['width']},{ti['scale']})"
    return tid


def _apply_agg_filter(agg: AggCall, cond: "Expr") -> AggCall:
    """``agg(x) FILTER (WHERE c)`` ≡ ``agg(CASE WHEN c THEN x END)`` for
    every null-IGNORING aggregate — the CASE yields NULL on excluded rows,
    which the aggregate then skips, so the rewrite rides the existing
    mergeable states unchanged. Shared by the FILTER-clause lowering and
    the PIVOT cell construction. Pair aggregates wrap EVERY argument
    (leaving the ordering key live would let an excluded row win the
    argmin/argmax with a NULL value); parameter positions (percentile
    fraction, separators, accuracies) stay literal, so single-value
    aggregates wrap only arg0. first/last refuse: the session's rewrite
    orders them by a DEFAULT temporal key the filter can't null out."""
    fn = agg.fn.lower()
    if fn in ("first", "last", "arbitrary"):
        raise Unsupported(f"FILTER on {fn}")
    args = agg.args
    if args and isinstance(args[0], Star):
        # count(*) FILTER (WHERE c) ≡ count(CASE WHEN c THEN 1 END)
        return AggCall(
            "count", (Case(whens=((cond, Lit(1)),)),), agg.distinct
        )
    if not args:
        raise Unsupported(f"FILTER on zero-argument {fn}")
    wrap_all = fn in (
        "corr", "covar_samp", "covar_pop",
        "regr_slope", "regr_intercept", "regr_r2", "regr_count",
        "regr_avgx", "regr_avgy", "regr_sxx", "regr_syy", "regr_sxy",
        "min_by", "max_by", "arg_min", "arg_max",
    )

    def _w(a):
        return Case(whens=((cond, a),))

    new_args = (
        tuple(_w(a) for a in args)
        if wrap_all
        else (_w(args[0]),) + tuple(args[1:])
    )
    return AggCall(agg.fn, new_args, agg.distinct)


def _const_value(node: Dict[str, Any]) -> Lit:
    v = node["value"]
    tid = _type_id(v["type"])
    if v.get("is_null"):
        return Lit(None, tid)
    val = v.get("value")
    if tid == "BOOLEAN":
        # duckdb serializes boolean constants as 0/1 ints; an int literal
        # breaks typed comparisons downstream ((pred) IS NOT FALSE
        # compiled to `bool <=> 0` → AnalysisException, r11 find)
        return Lit(bool(val), tid)
    ti = v["type"].get("type_info") or {}
    if v["type"]["id"] == "DECIMAL" and "scale" in ti:
        # duckdb serializes decimals as the UNSCALED integer (1.25 →
        # value=125, scale=2); rebuild the exact decimal so comparisons
        # against decimal columns stay exact on the cached path.
        val = decimal.Decimal(val).scaleb(-ti["scale"])
    return Lit(val, tid)


def _expr(node: Dict[str, Any]) -> Expr:
    cls = node.get("class")
    typ = node.get("type")

    if cls == "CONSTANT":
        return _const_value(node)

    if cls == "COLUMN_REF":
        names = node.get("column_names", [])
        if not names:
            raise Unsupported("empty column ref")
        # SQL-standard niladic time keywords parse as bare column refs;
        # normalize them to the volatile functions the classifier knows
        # (reference matches these by name, ``src/aggregate.rs:790-796``).
        if len(names) == 1 and names[0].lower() in (
            "current_timestamp",
            "current_date",
            "localtimestamp",
            "today",
        ):
            return Func(names[0].lower(), ())
        if len(names) >= 2 and _SCOPE:
            # scope-aware resolution (r13): a leading segment naming a
            # visible relation is a TABLE qualifier (dropped); any other
            # multi-part ref is a STRUCT field path rooted at a column —
            # kept dotted, which both F.col() and Spark SQL resolve as
            # nested-field access. Dropping it blindly built plans over a
            # nonexistent bare column (loud failure under strict_errors).
            head = names[0].lower()
            if head in getattr(_SCOPE[-1], "hidden", ()):
                # qualified by a table name an alias HID: invalid SQL —
                # refusing keeps Spark's own error authoritative (lowering
                # it as a struct path would silently answer it: F.col's
                # dotted form resolves through the DataFrame's internal
                # qualifier, alias or not)
                raise Unsupported(
                    f"reference {'.'.join(names)} qualified by an "
                    f"alias-hidden table name"
                )
            if (
                head in _SCOPE[-1]
                and len(names) >= 2
                and names[1].lower()
                in getattr(_SCOPE[-1], "using_keys", ())
            ):
                # side-qualified USING key (`u.k` / `e.k`): NOT the merged
                # column — under LEFT USING the right side is NULL on
                # unmatched rows; dropping the qualifier would silently
                # serve the merged value (r14 probe find, wrong answer)
                raise Unsupported(
                    f"side-qualified USING column {'.'.join(names)}"
                )
            if head in _SCOPE[-1]:
                known = getattr(_SCOPE[-1], "cols", {}).get(head)
                if known is not None and names[1].lower() not in known:
                    # a table qualifier scopes resolution to THAT
                    # relation: `rj_seg.value` when value is only on the
                    # other join side is invalid SQL — plain qualifier-
                    # dropping would serve the other side's column
                    # (r15 fuzz find; refuse → Spark's error stays
                    # authoritative)
                    raise Unsupported(
                        f"column {names[1]} not in relation {head}"
                    )
            rest = list(names[1:]) if head in _SCOPE[-1] else list(names)
            return Col(".".join(rest))
        return Col(names[-1])  # no scope info: drop qualifier (legacy)

    if cls == "COMPARISON":
        op = _COMPARE_OPS.get(typ)
        if op is None:
            raise Unsupported(f"comparison {typ}")
        return BinOp(op, _expr(node["left"]), _expr(node["right"]))

    if cls == "CONJUNCTION":
        op = "and" if typ == "CONJUNCTION_AND" else "or"
        kids = [_expr(c) for c in node["children"]]
        out = kids[0]
        for k in kids[1:]:
            out = BinOp(op, out, k)
        return out

    if cls == "BETWEEN":
        # Desugar immediately: (e >= low) AND (e <= high).  The reference
        # panics on BETWEEN (`src/aggregate.rs:786-788` todo!()); we fix that
        # per SURVEY §4.4.6 by desugaring before classification.
        e = _expr(node["input"])
        return BinOp(
            "and",
            BinOp(">=", e, _expr(node["lower"])),
            BinOp("<=", e, _expr(node["upper"])),
        )

    if cls == "OPERATOR":
        kids = [_expr(c) for c in node.get("children", [])]
        if typ == "OPERATOR_NOT":
            return Not(kids[0])
        if typ == "OPERATOR_IS_NULL":
            return IsNull(kids[0], negated=False)
        if typ == "OPERATOR_IS_NOT_NULL":
            return IsNull(kids[0], negated=True)
        if typ in ("COMPARE_IN", "COMPARE_NOT_IN"):
            return InList(kids[0], tuple(kids[1:]), negated=typ == "COMPARE_NOT_IN")
        if typ == "GROUPING_FUNCTION":
            # duckdb parses grouping()/grouping_id() both into this operator;
            # one argument ⇒ Spark's grouping() (tinyint), more ⇒
            # grouping_id() (bigint bit-vector)
            return Func("grouping" if len(kids) == 1 else "grouping_id", tuple(kids))
        if typ == "OPERATOR_COALESCE":
            # duckdb desugars COALESCE into its own operator class;
            # identical builtin in Spark (functions/compile.py `coalesce`)
            return Func("coalesce", tuple(kids))
        raise Unsupported(f"operator {typ}")

    if cls == "CAST":
        return Cast(_expr(node["child"]), _type_id(node["cast_type"]))

    if cls == "CASE":
        checks = node.get("case_checks", [])
        whens = tuple(
            (_expr(c["when_expr"]), _expr(c["then_expr"])) for c in checks
        )
        els = node.get("else_expr")
        return Case(whens, _expr(els) if els is not None else None)

    if cls == "FUNCTION":
        name = node["function_name"].lower()
        args = tuple(_expr(c) for c in node.get("children", []))
        fcond = (
            _expr(node["filter"]) if node.get("filter") is not None else None
        )
        if fcond is not None and not (
            name in AGG_FUNCTIONS or name in ("count_star", "count_if")
        ):
            raise Unsupported(f"FILTER clause on non-aggregate {name}")
        if node.get("is_operator"):
            if name == "-" and len(args) == 1:
                return Neg(args[0])
            mapped = _OPERATOR_FUNCS.get(name)
            if mapped is None:
                raise Unsupported(f"operator fn {name}")
            if mapped in ("like", "not_like", "+", "-", "*", "/", "//", "%"):
                return BinOp(mapped, args[0], args[1])
            return Func(mapped, args)
        if name == "count_star":
            out = AggCall("count", (Star(),), distinct=False)
            return _apply_agg_filter(out, fcond) if fcond is not None else out
        if name == "count_if":
            # count_if(p) ≡ count(CASE WHEN p THEN 1 END): counts TRUE rows
            # (NULL/FALSE uncounted), 0 on empty input — rides the existing
            # mergeable count state. A FILTER clause wraps the same CASE
            # (nested CASE ≡ AND: NULL/FALSE either way is uncounted).
            if len(args) != 1:
                raise Unsupported("count_if arity")
            out = AggCall(
                "count",
                (Case(whens=((args[0], Lit(1)),)),),
                distinct=False,
            )
            return _apply_agg_filter(out, fcond) if fcond is not None else out
        if name in AGG_FUNCTIONS:
            ob = node.get("order_bys") or {}
            if ob.get("orders"):
                # ordered aggregate — array_agg(x ORDER BY y),
                # string_agg(... ORDER BY ...): dropping the inner ORDER
                # would return the list/string in arbitrary order while
                # claiming the ordered result (r11 silent-drop audit)
                raise Unsupported(f"ORDER BY inside aggregate {name}")
            fn = {"mean": "avg", "variance": "var_samp", "stddev": "stddev_samp",
                  "list": "array_agg",
                  # one IR spelling for every approx-quantile alias
                  # (Spark: approx_percentile/percentile_approx; DuckDB:
                  # approx_quantile) — one sketch entry serves all three
                  "percentile_approx": "approx_percentile",
                  "approx_quantile": "approx_percentile"}.get(name, name)
            out = AggCall(fn, args, distinct=bool(node.get("distinct")))
            return _apply_agg_filter(out, fcond) if fcond is not None else out
        return Func(name, args)

    if cls == "WINDOW":
        return _window_expr(node)

    if cls == "SUBQUERY":
        return _scalar_subquery(node)

    raise Unsupported(f"expr class {cls}/{typ}")


def _reject_foreign_qualifiers(sub_json: Dict[str, Any]) -> None:
    """Refuse qualified column refs inside a subquery body that name a
    table OTHER than the subquery's own FROM tables — ``WHERE t_outer.c =
    …`` is a correlated reference; lowering the body standalone would
    silently re-bind it to the inner table's same-named column (the parser
    drops qualifiers). Unqualified correlated refs are safe without this
    guard: either the name exists inner-side (SQL binds inner-first — the
    same binding we produce) or Spark fails to resolve it at plan time
    (loud error in strict mode, passthrough otherwise)."""
    own: set = set()

    def _tables(n) -> None:
        if isinstance(n, dict):
            if n.get("type") in ("BASE_TABLE",):
                alias = n.get("alias") or ""
                if alias:
                    # SQL alias HIDING: ``FROM t e2`` removes the name
                    # ``t`` from the inner scope — ``t.x`` then binds to
                    # an OUTER ``t`` (a correlated ref). Treating it as
                    # inner-own silently re-bound the outer column and
                    # folded a correlated scalar as a global one
                    # (r13 wrong-answer find, self-correlated spelling)
                    own.add(alias.lower())
                else:
                    own.add(n.get("table_name", "").lower())
                    own.add(_base_table_name(n).lower())
            for v in n.values():
                _tables(v)
        elif isinstance(n, list):
            for v in n:
                _tables(v)

    def _refs(n) -> None:
        if isinstance(n, dict):
            if n.get("class") == "COLUMN_REF":
                names = n.get("column_names", [])
                if len(names) > 1 and names[0].lower() not in own:
                    raise Unsupported(
                        f"correlated/qualified column {'.'.join(names)} "
                        "in subquery"
                    )
            for v in n.values():
                _refs(v)
        elif isinstance(n, list):
            for v in n:
                _refs(v)

    _tables(sub_json)
    _refs(sub_json)


def _scalar_subquery(node: Dict[str, Any]) -> Expr:
    """``(SELECT <one global aggregate> FROM ...)`` as a scalar operand,
    or ``x IN (SELECT <one column> FROM … [GROUP BY/HAVING])`` as a
    boolean.

    Only subqueries whose body lowers to a single-column AggSpec are
    admitted — that inner aggregate is what gets cached (the reference's
    bottom-up rule, ``src/aggregate.rs:74-76``); the session folds its
    result into the outer predicate at plan time (a literal for SCALAR, an
    IN-list for ANY/IN — see ``InSubquery``). EXISTS and correlated shapes
    stay passthrough."""
    from .ir import AggSpec as _AggSpec, ExistsSubquery, InSubquery
    from .ir import ScalarSubquery, canon_predicate

    sq_type = node.get("subquery_type")
    if sq_type not in ("SCALAR", "ANY", "EXISTS"):
        raise Unsupported(f"subquery type {sq_type}")
    any_op = "="
    if sq_type == "ANY":
        any_op = _COMPARE_OPS.get(node.get("comparison_type"))
        if any_op is None or any_op.startswith("is_"):
            raise Unsupported(
                f"quantified comparison {node.get('comparison_type')}"
            )
    if sq_type == "EXISTS":
        try:
            _reject_foreign_qualifiers(node["subquery"])
        except Unsupported:
            # the top-5 analyst spelling ``EXISTS (SELECT 1 FROM t2 WHERE
            # t2.k = outer.k [AND stable])`` decorrelates to a DISTINCT-IN
            # over the cached inner — see _decorrelate_exists
            return _decorrelate_exists(node)
    elif sq_type == "SCALAR":
        try:
            _reject_foreign_qualifiers(node["subquery"])
        except Unsupported:
            # per-key threshold spelling ``v > (SELECT agg(x) FROM t2
            # WHERE t2.k = outer.k)`` decorrelates to a broadcast join
            # against the cached grouped rollup — see _decorrelate_scalar
            return _decorrelate_scalar(node)
    else:
        _reject_foreign_qualifiers(node["subquery"])
    inner = _lower_select(node["subquery"]["node"])
    if not isinstance(inner, _AggSpec):
        raise Unsupported("subquery body is not a plain aggregate")
    # joined bodies allowed since r13: the inner plans through the same
    # cached star-join pipeline as a top-level joined aggregate
    if (
        inner.grouping_sets
        or inner.order_by
        or inner.limit is not None
        or len(inner.select_order) != 1
    ):
        raise Unsupported("subquery must be a one-column aggregate")
    for e in [inner.predicate, inner.having]:
        if e is not None and not _nested_scalars_foldable(e):
            # Explicit refusal (r14, narrowed r16): the MIDDLE level of a
            # nested-subquery chain filters its rows by a MOVING scalar
            # (the innermost refreshes between runs), so its accumulated
            # state would mix rows admitted under different thresholds —
            # unsound on the union-merge seam. The STATIC-inner special
            # case (see _static_scalar) is now admitted: the session
            # folds the value as a literal, the middle's fingerprint
            # embeds it, and a changed value opens a fresh entry instead
            # of mixing. Everything else stays passthrough.
            raise Unsupported("nested subquery in a subquery body")
    if sq_type == "SCALAR":
        if inner.group_by or inner.having is not None:
            raise Unsupported("scalar subquery must be one global aggregate")
        canon_str = (
            f"{inner.table}|{inner.select_order[0]}="
            f"{inner.aggregates[0].expr.canon()}"
            f"|{canon_predicate(inner.predicate)}"
        )
        if inner.join_steps:
            canon_str += (
                f"|joins={';'.join(j.canon() for j in inner.join_steps)}"
            )
        return ScalarSubquery(canon_str=canon_str, spec=inner)
    canon_str = (
        f"{inner.canon()}|sel={inner.select_order[0]}"
        f"|having={inner.having.canon() if inner.having is not None else ''}"
    )
    if sq_type == "EXISTS":
        return ExistsSubquery(canon_str=canon_str, spec=inner)
    left = _expr(node["child"])
    if _contains_scalar_subq(left):
        raise Unsupported("subquery inside IN's left operand")
    return InSubquery(left=left, canon_str=canon_str, spec=inner, op=any_op)


def _contains_scalar_subq(e: Expr) -> bool:
    from .ir import CorrScalar, ExistsSubquery, InSubquery, ScalarSubquery

    return any(
        isinstance(n, (ScalarSubquery, InSubquery, ExistsSubquery, CorrScalar))
        for n in e.walk()
    )


def _static_scalar(n) -> bool:
    """True iff ``n`` is an UNCORRELATED ScalarSubquery whose body is
    volatile-free and subquery-free — the STATIC-inner shape whose value
    the session may fold into an ENCLOSING CACHED spec (r16).

    Soundness: the fold substitutes the plan-time VALUE as a literal, so
    the enclosing spec's fingerprint embeds it — state admitted under one
    threshold can never merge with state admitted under another (a
    changed value is a new, cold entry). A now()-bearing body stays
    refused: its value moves EVERY run, so the embedded-literal entry
    would orphan per query — strictly worse than passthrough. Depth ≥ 3
    (a subquery inside the static body) stays refused too."""
    from .ir import (
        CorrScalar,
        ExistsSubquery,
        Func,
        InSubquery,
        ScalarSubquery,
    )
    from .classify import VOLATILE_FNS, VOLATILE_TIME_FNS

    if not isinstance(n, ScalarSubquery):
        return False
    return _static_subq_body_ok(n.spec)


def _static_subq_body_ok(sp) -> bool:
    """Shared body check for the static fold: volatile-free and
    subquery-free everywhere (aggregates, group keys, WHERE, HAVING,
    join conditions)."""
    from .ir import (
        CorrScalar,
        ExistsSubquery,
        Func,
        InSubquery,
        ScalarSubquery,
    )
    from .classify import VOLATILE_FNS, VOLATILE_TIME_FNS

    if sp is None:
        return False
    exprs = [i.expr for i in sp.aggregates]
    exprs.extend(i.expr for i in sp.group_by)
    if sp.predicate is not None:
        exprs.append(sp.predicate)
    if sp.having is not None:
        exprs.append(sp.having)
    exprs.extend(js.on for js in sp.join_steps if js.on is not None)
    for e in exprs:
        for m in e.walk():
            if isinstance(m, Func) and m.name.lower() in (
                VOLATILE_FNS | VOLATILE_TIME_FNS
            ):
                return False
            if isinstance(
                m, (ScalarSubquery, InSubquery, ExistsSubquery, CorrScalar)
            ):
                return False
    return True


def _nested_scalars_foldable(e: Expr) -> bool:
    """True iff every subquery node in ``e`` is STATIC — an uncorrelated
    scalar / IN / EXISTS body the session can literal-fold (no subquery
    at all counts too). Correlated scalars stay refused: their fold is a
    per-key join, not a literal."""
    from .ir import CorrScalar, ExistsSubquery, InSubquery, ScalarSubquery

    for n in e.walk():
        if isinstance(n, CorrScalar):
            return False
        if isinstance(
            n, (ScalarSubquery, InSubquery, ExistsSubquery)
        ) and not _static_subq_body_ok(n.spec):
            return False
    return True


def scalar_subqueries(spec) -> list:
    """The ScalarSubquery/InSubquery nodes in a TOP-LEVEL FilterSpec/
    AggSpec's predicate and HAVING — the only positions the planner
    resolves (the parser rejects every other position). Order: predicate
    first."""
    from .ir import (
        AggSpec,
        CorrScalar,
        ExistsSubquery,
        FilterSpec,
        InSubquery,
        ScalarSubquery,
    )

    out: list = []
    if isinstance(spec, (FilterSpec, AggSpec)):
        exprs = []
        if spec.predicate is not None:
            exprs.append(spec.predicate)
        having = getattr(spec, "having", None)
        if having is not None:
            exprs.append(having)
        for e in exprs:
            out.extend(
                n
                for n in e.walk()
                if isinstance(
                    n,
                    (ScalarSubquery, InSubquery, ExistsSubquery, CorrScalar),
                )
            )
        # a correlated scalar in HAVING would be a per-group join against
        # the rollup — unsupported; the session joins before aggregation
        if having is not None and any(
            isinstance(n, CorrScalar) for n in having.walk()
        ):
            raise Unsupported("correlated scalar in HAVING")
    return out


def select_scalar_subqueries(spec) -> list:
    """The ScalarSubquery/CorrScalar nodes in a TOP-LEVEL AggSpec's or
    FilterSpec's SELECT items — the share-of-total shape
    (``count(*) / (SELECT count(*) FROM t)``) and the per-key ratio shape
    (``v / (SELECT avg(v) FROM t WHERE t.k = o.k)``). The session folds
    the uncorrelated ones post-finalize and joins the correlated ones as
    broadcast rollups (``_plan_select_scalars`` for aggregate outers,
    ``_plan_scalar_outer`` for filter outers)."""
    from .ir import AggSpec, CorrScalar, FilterSpec, ScalarSubquery

    if isinstance(spec, AggSpec):
        items = spec.aggregates
    elif isinstance(spec, FilterSpec):
        items = spec.items or ()
    else:
        return []
    out: list = []
    for i in items:
        out.extend(
            n
            for n in i.expr.walk()
            if isinstance(n, (ScalarSubquery, CorrScalar))
        )
    return out


def _derived_scalar_fold_ok(spec) -> bool:
    """A derived-table body may carry subqueries ONLY as static scalars
    in the WHERE/HAVING of its (possibly nested-derived) AGGREGATE level
    (the r16 literal fold); anywhere else — select items, group/order
    expressions, a replay level's own expressions — refuses."""
    from .ir import AggSpec, SubquerySpec as _SQ

    if isinstance(spec, _SQ):
        # replay levels above the cached aggregate must be clean
        # themselves; the fold happens at the innermost AggSpec
        own = [i.expr for i in (spec.items or ())]
        own.extend(i.expr for i in spec.group_by)
        own.extend(i.expr for i in spec.aggregates)
        own.extend(o.expr for o in spec.order_by)
        if spec.predicate is not None:
            own.append(spec.predicate)
        if spec.having is not None:
            own.append(spec.having)
        if getattr(spec, "qualify", None) is not None:
            own.append(spec.qualify)
        own.extend(js.on for js in spec.join_steps if js.on is not None)
        if any(_contains_scalar_subq(e) for e in own):
            return False
        return _derived_scalar_fold_ok(spec.inner)
    if not isinstance(spec, AggSpec):
        return False
    if select_scalar_subqueries(spec):
        return False
    for e in (spec.predicate, spec.having):
        if e is not None and not _nested_scalars_foldable(e):
            return False
    other = [i.expr for i in spec.group_by]
    other.extend(i.expr for i in spec.aggregates)
    other.extend(o.expr for o in spec.order_by)
    other.extend(js.on for js in spec.join_steps if js.on is not None)
    return not any(_contains_scalar_subq(e) for e in other)


def _spec_has_scalar_subq(spec) -> bool:
    """Any ScalarSubquery/InSubquery anywhere in a lowered spec (for
    rejecting them inside derived tables / UNION branches, where the
    session's top-level resolution never runs)."""
    from .ir import AggSpec, FilterSpec, SubquerySpec, UnionSpec

    if isinstance(spec, UnionSpec):
        return any(_spec_has_scalar_subq(b) for b in spec.branches)
    if isinstance(spec, SubquerySpec):
        exprs = [i.expr for i in (spec.items or ())]
        exprs.extend(i.expr for i in spec.group_by)
        exprs.extend(i.expr for i in spec.aggregates)
        exprs.extend(o.expr for o in spec.order_by)
        if spec.predicate is not None:
            exprs.append(spec.predicate)
        if spec.having is not None:
            exprs.append(spec.having)
        if getattr(spec, "qualify", None) is not None:
            exprs.append(spec.qualify)
        exprs.extend(js.on for js in spec.join_steps if js.on is not None)
        if any(_contains_scalar_subq(e) for e in exprs):
            return True
        return _spec_has_scalar_subq(spec.inner)
    if isinstance(spec, (FilterSpec, AggSpec)):
        return bool(scalar_subqueries(spec)) or bool(
            select_scalar_subqueries(spec)
        )
    return False


def _order_item(o: Dict[str, Any]) -> OrderItem:
    """One ORDER BY entry (modifier or window OVER clause) → OrderItem."""
    desc = o.get("type") == "DESCENDING"
    nf = None
    no = o.get("null_order")
    if no == "NULLS_FIRST":
        nf = True
    elif no == "NULLS_LAST":
        nf = False
    return OrderItem(_expr(o["expression"]), desc, nf)


_WIN_RANKING = {
    "row_number", "rank", "dense_rank", "percent_rank", "cume_dist", "ntile",
}
_WIN_VALUE = {"lag", "lead", "first_value", "last_value", "nth_value"}
_WIN_AGG = {"sum", "avg", "mean", "min", "max", "count", "count_star"}


def _window_expr(node: Dict[str, Any]) -> Expr:
    """``fn(...) OVER (PARTITION BY ... ORDER BY ...)`` — default frame only.

    DuckDB's and Spark's default frame are both ``RANGE UNBOUNDED
    PRECEDING .. CURRENT ROW`` (peers included), so running aggregates
    agree with the oracle; explicit frames, FILTER, IGNORE NULLS,
    DISTINCT, and EXCLUDE stay passthrough. Aggregates inside the window
    spec (``rank() OVER (ORDER BY sum(n))``) stay passthrough too — above
    a derived table the window can simply order by the inner's aliased
    output instead.
    """
    from .ir import WindowExpr

    fn = (node.get("function_name") or "").lower()
    if node.get("filter_expr") is not None:
        raise Unsupported("window FILTER clause")
    ignore_nulls = bool(node.get("ignore_nulls"))
    if ignore_nulls and fn not in ("first_value", "last_value", "nth_value"):
        # Spark's lag/lead have no ignoreNulls form in the Python API
        raise Unsupported(f"IGNORE NULLS on window {fn}")
    if node.get("distinct"):
        raise Unsupported("window DISTINCT")
    if node.get("exclude_clause", "NO_OTHER") != "NO_OTHER":
        raise Unsupported("window EXCLUDE clause")
    frame = None
    if (
        node.get("start") != "UNBOUNDED_PRECEDING"
        or node.get("end") != "CURRENT_ROW_RANGE"
        or node.get("start_expr") is not None
        or node.get("end_expr") is not None
    ):
        # explicit ROWS frames compile to Spark rowsBetween (semantics
        # identical in DuckDB and Spark given the same ORDER); RANGE
        # frames with expressions and GROUPS frames stay passthrough
        frame = _rows_frame(node)
    if fn not in _WIN_RANKING | _WIN_VALUE | _WIN_AGG:
        raise Unsupported(f"window function {fn}")
    if frame is not None and fn not in _WIN_AGG | {
        "first_value", "last_value", "nth_value"
    }:
        # Spark's analyzer rejects explicit frames on ranking/offset fns
        raise Unsupported(f"explicit frame on window {fn}")

    args = tuple(_expr(c) for c in node.get("children", []))
    parts = tuple(_expr(p) for p in node.get("partitions", []))
    orders = tuple(_order_item(o) for o in node.get("orders", []))
    if fn == "count_star":
        fn, args = "count", (Star(),)
    elif fn == "mean":
        fn = "avg"
    if fn in _WIN_RANKING | _WIN_VALUE and not orders:
        # Spark requires an ordered window for ranking/offset functions
        raise Unsupported(f"window {fn} without ORDER BY")
    off = node.get("offset_expr")
    dflt = node.get("default_expr")
    if (off is not None or dflt is not None) and fn not in ("lag", "lead"):
        raise Unsupported(f"offset/default on window {fn}")
    if frame is not None and not orders:
        raise Unsupported("explicit window frame without ORDER BY")
    if frame is not None and frame[0] == "range" and len(orders) != 1:
        raise Unsupported("RANGE frame requires exactly one ORDER BY key")
    w = WindowExpr(
        fn,
        args,
        parts,
        orders,
        offset=_expr(off) if off is not None else None,
        default=_expr(dflt) if dflt is not None else None,
        frame=frame,
        ignore_nulls=ignore_nulls,
    )
    for nd in w.walk():
        if isinstance(nd, AggCall):
            raise Unsupported("aggregate inside a window spec")
    return w


def _reject_volatile_items(exprs, where: str) -> None:
    """Refuse volatile functions (now()/current_timestamp/random/…)
    anywhere in cached OUTPUT positions — select items, group keys, order
    keys. A volatile value inside an aggregate argument would be FROZEN
    into the stored partial state at run-1's now and merged stale forever
    after (found live: ``sum(CASE WHEN ts > now() - 5d THEN v END)``
    cached run-1 state whose "recent" window never advanced — silent
    wrong answers on every warm read). Predicates are exempt: the
    DynamicLowerBound classifier owns now() there."""
    from .classify import VOLATILE_FNS, VOLATILE_TIME_FNS

    vol = VOLATILE_FNS | VOLATILE_TIME_FNS
    for e in exprs:
        for n in e.walk():
            if isinstance(n, Func) and n.name.lower() in vol:
                raise Unsupported(f"volatile function {n.name} in {where}")


def _split_correlation(node: Dict[str, Any]):
    """Shared correlation analysis for the EXISTS and scalar
    decorrelations: require a SELECT over one base table whose WHERE has
    one or more correlated equality conjuncts ``own_expr = foreign_expr``
    (either side; each side may be a column or a pure expression over ONE
    scope) and otherwise inner-only references. Returns
    ``(sub, [(own_json, foreign_json), …], rest_conjuncts)`` with the raw
    AST of each side; raises Unsupported for every other correlated
    shape. Multi-equality (r13): k conjunctive equalities become a
    composite-key rollup — the same bottom-up cache-any-inner-Aggregate
    rule (``src/aggregate.rs:74-76``), now over a composite key."""
    sub = node["subquery"]["node"]
    if sub.get("type") != "SELECT_NODE":
        raise Unsupported("correlated subquery over a non-select body")
    ft = sub.get("from_table") or {}
    if ft.get("type") != "BASE_TABLE":
        raise Unsupported("correlated subquery over a non-base table")
    # SQL alias hiding: an alias REPLACES the table name in the inner
    # scope, so a bare ``t.x`` with inner ``FROM t e2`` is an OUTER ref
    # (r13 wrong-answer find — misclassifying it as inner-own folded the
    # correlated scalar as a global one)
    own = (
        {ft["alias"].lower()}
        if ft.get("alias")
        else {
            x.lower()
            for x in (ft.get("table_name"), _base_table_name(ft))
            if x
        }
    )
    # GROUP BY in the body is allowed when every group key is one of the
    # correlation keys (validated below, after the pairs are known): the
    # correlated equalities PIN those keys per outer row, so grouping by
    # them (or any subset) yields exactly one group over exactly the same
    # row set — the body stays scalar and the rollup entry is the same one
    # the ungrouped spelling uses. Grouping beyond the correlation keys
    # could return several rows per outer row; that stays passthrough so
    # plain Spark's own multi-row error remains authoritative. HAVING is
    # allowed with inner-only references (it rides the rollup's AggSpec
    # .having — keys whose group fails it vanish from the rollup).
    raw_sets = sub.get("group_sets") or []
    n_groups = len(sub.get("group_expressions") or [])
    if raw_sets and not (
        len(raw_sets) == 1 and sorted(raw_sets[0]) == list(range(n_groups))
    ):
        raise Unsupported("correlated subquery with grouping sets")
    if sub.get("modifiers"):
        raise Unsupported("correlated subquery with modifiers")
    if sub.get("cte_map", {}).get("map"):
        raise Unsupported("correlated subquery with CTEs")
    wc = sub.get("where_clause")
    if wc is None:
        raise Unsupported("correlated subquery without a WHERE")

    def conjuncts(n):
        if (
            n.get("class") == "CONJUNCTION"
            and n.get("type") == "CONJUNCTION_AND"
        ):
            out = []
            for c in n["children"]:
                out.extend(conjuncts(c))
            return out
        return [n]

    def side(n):
        """Classify one comparison operand by the scope of its column
        refs: "own" = every ref inner-side (unqualified refs bind
        inner-first — the binding we produce), "foreign" = every ref
        outer-qualified, None = no columns (a constant) or a nested
        subquery. A side mixing scopes has no single-scope rollup key."""
        quals: List[str] = []
        unqual = 0
        subq = False

        def walk(x):
            nonlocal unqual, subq
            if isinstance(x, dict):
                if x.get("class") == "COLUMN_REF":
                    names = x.get("column_names", [])
                    if len(names) >= 2:
                        quals.append(names[0].lower())
                    else:
                        unqual += 1
                    return
                if x.get("class") == "SUBQUERY":
                    subq = True
                    return
                for v in x.values():
                    walk(v)
            elif isinstance(x, list):
                for v in x:
                    walk(v)

        walk(n)
        if subq or (not quals and not unqual):
            return None
        foreign = [q for q in quals if q not in own]
        if not foreign:
            return "own"
        if len(foreign) == len(quals) and unqual == 0:
            return "foreign"
        raise Unsupported(
            "correlated equality side mixing inner and outer references"
        )

    def assert_inner_only(n):
        if isinstance(n, dict):
            if n.get("class") == "COLUMN_REF":
                names = n.get("column_names", [])
                if len(names) > 1 and names[0].lower() not in own:
                    raise Unsupported(
                        "correlated subquery: outer reference outside the "
                        "correlated equality"
                    )
            for v in n.values():
                assert_inner_only(v)
        elif isinstance(n, list):
            for v in n:
                assert_inner_only(v)

    pairs: List[Tuple[Dict[str, Any], Dict[str, Any]]] = []
    rest = []
    for c in conjuncts(wc):
        if (
            c.get("class") == "COMPARISON"
            and c.get("type") == "COMPARE_EQUAL"
        ):
            ls, rs = side(c["left"]), side(c["right"])
            if {ls, rs} == {"own", "foreign"}:
                own_j = c["left"] if ls == "own" else c["right"]
                for_j = c["right"] if ls == "own" else c["left"]
                pairs.append((own_j, for_j))
                continue
        rest.append(c)
    if not pairs:
        raise Unsupported("correlated subquery: unsupported correlation shape")
    for c in rest:
        assert_inner_only(c)
    ges = sub.get("group_expressions") or []
    if ges:
        inner_vis = _visible_names(sub.get("from_table") or {})

        def inner_canon(j) -> str:
            _SCOPE.append(inner_vis)
            try:
                return _expr(j).canon()
            finally:
                _SCOPE.pop()

        own_canons = {inner_canon(oj) for oj, _ in pairs}
        for ge in ges:
            if inner_canon(ge) not in own_canons:
                raise Unsupported(
                    "correlated subquery grouped beyond its correlation keys"
                )
    hv = sub.get("having")
    if hv is not None:
        assert_inner_only(hv)
    return sub, pairs, rest


def _conj_json(rest):
    if not rest:
        return None
    cur = rest[0]
    for c in rest[1:]:
        cur = {
            "class": "CONJUNCTION",
            "type": "CONJUNCTION_AND",
            "alias": "",
            "children": [cur, c],
        }
    return cur


def _colref_json(name: str, alias: str = ""):
    return {
        "class": "COLUMN_REF",
        "type": "COLUMN_REF",
        "alias": alias,
        "column_names": [name],
    }


def _corr_key_plan(pairs, sub):
    """Composite rollup keys from raw ``(own_json, foreign_json)`` pairs:
    bare inner columns keep their natural names (the rollup stays spelled
    like a handwritten one and shares its entry); expression keys get
    generated ``qc_k{i}`` aliases. Returns ``(key_items, inner_keys,
    outer_keys, pair_canons)`` — key_items unique as
    ``[(name, own_json, is_bare_column)]``, the rest parallel to pairs."""
    key_items: List[Tuple[str, Dict[str, Any], bool]] = []
    seen: Dict[str, str] = {}
    inner_vis = _visible_names(sub.get("from_table") or {})
    inner_keys: List[str] = []
    outer_keys: List[Expr] = []
    canons: List[str] = []
    for own_j, for_j in pairs:
        _SCOPE.append(inner_vis)
        try:
            own_ir = _expr(own_j)
        finally:
            _SCOPE.pop()
        out_ir = _expr(for_j)
        if _contains_agg(own_ir) or _contains_window(own_ir):
            raise Unsupported("aggregate/window in a correlated key")
        if _contains_agg(out_ir) or _contains_window(out_ir):
            raise Unsupported("aggregate/window in a correlated key")
        kc = own_ir.canon()
        name = seen.get(kc)
        if name is None:
            # a dotted Col is a struct FIELD PATH (`meta.t`): its
            # unaliased rollup output would be named by the LAST segment
            # (Spark naming), so the full path cannot serve as the join
            # key name — alias it like an expression key instead
            bare = isinstance(own_ir, Col) and "." not in own_ir.name
            name = own_ir.name if bare else f"qc_k{len(key_items)}"
            seen[kc] = name
            key_items.append((name, own_j, bare))
        inner_keys.append(name)
        outer_keys.append(out_ir)
        canons.append(f"{kc}={out_ir.canon()}")
    names = [n for n, _, _ in key_items]
    low = [n.lower() for n in names]
    if len(set(low)) != len(low) or "qc_cv" in low:
        # a generated qc_k alias colliding with a natural key name (or a
        # key named like the value item) would make the rollup ambiguous
        raise Unsupported("correlated key name collision")
    return key_items, inner_keys, outer_keys, canons


def _corr_rollup_sub(sub, key_items, rest, value_item):
    """The rollup subquery AST: ``SELECT keys…, <value AS qc_cv> FROM t2
    [WHERE rest…] GROUP BY keys…`` — shared by the scalar and EXISTS
    decorrelations."""
    sel_list = []
    group_exprs = []
    for name, oj, bare in key_items:
        kj = dict(oj)
        if not bare:
            kj["alias"] = name
        sel_list.append(kj)
        group_exprs.append(dict(oj))
    new_sub = dict(sub)
    new_sub["select_list"] = sel_list + [value_item]
    new_sub["group_expressions"] = group_exprs
    # a grouped body carries its own group_sets (e.g. [[0]]); the rollup's
    # key set has a different arity — rewrite them as the plain full set
    new_sub["group_sets"] = [list(range(len(group_exprs)))]
    new_sub["where_clause"] = _conj_json(rest)
    new_sub["modifiers"] = []
    return new_sub


def _decorrelate_scalar(node: Dict[str, Any]) -> Expr:
    """``(SELECT agg(v) FROM t2 WHERE t2.k = outer.k [AND stable…])`` —
    rewritten to a :class:`CorrScalar` over the cached grouped rollup
    ``SELECT k AS qc_ck, agg(v) AS qc_cv FROM t2 [WHERE stable…] GROUP BY
    k``; the session LEFT-JOINs the broadcast O(groups) rollup onto the
    outer scan and the scalar becomes the joined column. Absent keys join
    to NULL — the exact empty-correlated-scalar value for NULL-on-empty
    aggregates; the count family (0 on empty) gets ``coalesce(…, 0)`` via
    ``count_like``. Items whose expression merely CONTAINS a count (e.g.
    ``count(*) + 1``) stay passthrough: the on-empty value of the
    composite is not representable by a single coalesce."""
    from .ir import AggCall as _AggCall, AggSpec as _AggSpec, Col as _Col
    from .ir import CorrScalar

    sub, pairs, rest = _split_correlation(node)
    sel = sub.get("select_list", [])
    if len(sel) != 1:
        raise Unsupported("correlated scalar must select one expression")
    item_expr = _expr(sel[0])
    if not _contains_agg(item_expr):
        raise Unsupported("correlated scalar body is not an aggregate")
    count_fns = {"count", "count_star", "count_if", "approx_count_distinct"}
    agg_calls = [n for n in item_expr.walk() if isinstance(n, _AggCall)]
    count_like = False
    if isinstance(item_expr, _AggCall):
        count_like = item_expr.fn in count_fns
    elif any(a.fn in count_fns for a in agg_calls):
        raise Unsupported(
            "correlated scalar: count inside a composite expression "
            "(on-empty value not representable)"
        )
    if sub.get("group_expressions") or sub.get("having") is not None:
        # a GROUPED (or HAVING-filtered) body yields zero ROWS on an empty
        # / filtered-out correlated set — the scalar is NULL there, never
        # the ungrouped count-on-empty 0 — so the absent-key join must NOT
        # coalesce
        count_like = False

    key_items, inner_keys, outer_keys, canons = _corr_key_plan(pairs, sub)
    item = dict(sel[0])
    item["alias"] = "qc_cv"
    new_sub = _corr_rollup_sub(sub, key_items, rest, item)
    _reject_foreign_qualifiers({"node": new_sub})
    inner = _lower_select(new_sub)
    if not isinstance(inner, _AggSpec):
        raise Unsupported("decorrelated scalar body is not an aggregate")
    if (
        inner.grouping_sets
        or inner.join_steps
        or inner.order_by
        or inner.limit is not None
    ):
        raise Unsupported("decorrelated scalar body shape")
    for e in [inner.predicate, inner.having]:
        if e is not None and _contains_scalar_subq(e):
            raise Unsupported("nested subquery in a subquery body")
    # spec.canon() deliberately excludes HAVING — append it here so two
    # bodies differing only in the HAVING never fold to one CorrScalar
    # (the r11 EXISTS-fold class)
    hv_c = inner.having.canon() if inner.having is not None else ""
    canon_str = (
        f"{inner.canon()}|ck={','.join(canons)}|cv=qc_cv|having={hv_c}"
    )
    return CorrScalar(
        outer_keys=tuple(outer_keys),
        inner_keys=tuple(inner_keys),
        canon_str=canon_str,
        spec=inner,
        count_like=count_like,
    )


def _decorrelate_exists(node: Dict[str, Any]) -> Expr:
    """``EXISTS (SELECT … FROM t2 [AS a] WHERE a.k = outer.k [AND
    stable…])`` — exactly ONE correlated equality, everything else
    inner-only — rewritten to the equivalent uncorrelated DISTINCT-IN:

        coalesce(outer.k IN (SELECT DISTINCT k FROM t2 WHERE stable…),
                 FALSE)

    The coalesce reproduces EXISTS's two-valued logic exactly: the plain
    IN fold yields NULL when outer.k is NULL or when the folded set
    carried a NULL, but a correlated equality never matches NULL, so
    EXISTS is FALSE there — coalesce(…, FALSE) maps both NULL cases to
    FALSE and NOT above it stays exact. The DISTINCT inner rides the
    SELECT DISTINCT cache machinery (key-set state, hidden count), so the
    entry is shared with the standalone distinct query. The select list
    is ignored (EXISTS semantics). Multi-equality correlation (r13):
    ``EXISTS ≡ coalesce(count(*)-per-composite-key > 0, FALSE)`` — a
    CorrScalar over the cached ``GROUP BY k1, …, kk`` count rollup,
    broadcast-joined by the session (count_like → absent keys coalesce to
    0 → FALSE, exactly EXISTS on the empty correlated set). Any other
    correlated shape — non-equality correlation, GROUP BY/HAVING/
    modifiers, derived-table source — stays passthrough
    (``_split_correlation``)."""
    from .ir import Col as _Col, Func as _Func

    sub, pairs, rest = _split_correlation(node)
    own0 = None
    if len(pairs) == 1:
        # the own side lowers under the INNER scope (its qualifier is the
        # inner alias — under the outer scope it would read as a struct
        # field path)
        _SCOPE.append(_visible_names(sub.get("from_table") or {}))
        try:
            own0 = _expr(pairs[0][0])
        finally:
            _SCOPE.pop()
    if (
        len(pairs) > 1
        or not isinstance(own0, Col)
        or sub.get("having") is not None
    ):
        # composite / expression-keyed / HAVING-filtered: the count-rollup
        # CorrScalar path (with HAVING, a key is present iff its one group
        # passes it — count>0 with coalesce(...,FALSE) is exactly EXISTS)
        return _decorrelate_exists_multi(sub, pairs, rest)
    inner_col = own0.name
    outer_expr = _expr(pairs[0][1])

    new_sub = dict(sub)
    new_sub["select_list"] = [_colref_json(inner_col)]
    new_sub["modifiers"] = [
        {"type": "DISTINCT_MODIFIER", "distinct_on_targets": []}
    ]
    # a grouped body (keys ⊆ correlation keys, validated upstream) has ≥1
    # group iff ≥1 row matches — EXISTS over it equals EXISTS over rows,
    # so the DISTINCT-IN fold just drops the GROUP BY
    new_sub["group_expressions"] = []
    new_sub["group_sets"] = []
    new_sub["where_clause"] = _conj_json(rest)
    _reject_foreign_qualifiers({"node": new_sub})
    inner = _lower_select(new_sub)

    from .ir import AggSpec as _AggSpec, InSubquery, Lit as _Lit

    if not isinstance(inner, _AggSpec):
        raise Unsupported("decorrelated EXISTS body is not an aggregate")
    if (
        inner.grouping_sets
        or inner.join_steps
        or inner.order_by
        or inner.limit is not None
        or len(inner.select_order) != 1
    ):
        raise Unsupported("decorrelated EXISTS body shape")
    for e in [inner.predicate, inner.having]:
        if e is not None and _contains_scalar_subq(e):
            raise Unsupported("nested subquery in a subquery body")
    canon_str = (
        f"{inner.canon()}|sel={inner.select_order[0]}"
        f"|having={inner.having.canon() if inner.having is not None else ''}"
    )
    return _Func(
        "coalesce",
        (
            InSubquery(left=outer_expr, canon_str=canon_str, spec=inner),
            _Lit(False, "BOOLEAN"),
        ),
    )


def _decorrelate_exists_multi(sub, pairs, rest) -> Expr:
    """k-equality correlated EXISTS → ``coalesce(cnt > 0, FALSE)`` where
    ``cnt`` is a :class:`CorrScalar` over the cached composite-key count
    rollup ``SELECT k1, …, kk, count(*) AS qc_cv GROUP BY k1, …, kk``.
    Plain Spark answers this shape too (as a semi join), but here the
    rollup state refreshes O(new) instead of rescanning t2 per query."""
    from .ir import (
        AggSpec as _AggSpec,
        BinOp as _BinOp,
        Col as _Col,
        CorrScalar,
        Func as _Func,
        Lit as _Lit,
    )

    key_items, inner_keys, outer_keys, canons = _corr_key_plan(pairs, sub)
    count_item = {
        "class": "FUNCTION",
        "type": "FUNCTION",
        "alias": "qc_cv",
        "function_name": "count_star",
        "schema": "",
        "children": [],
        "filter": None,
        "order_bys": {"type": "ORDER_MODIFIER", "orders": []},
        "distinct": False,
        "is_operator": False,
        "export_state": False,
        "catalog": "",
    }
    new_sub = _corr_rollup_sub(sub, key_items, rest, count_item)
    _reject_foreign_qualifiers({"node": new_sub})
    inner = _lower_select(new_sub)
    if not isinstance(inner, _AggSpec):
        raise Unsupported("decorrelated EXISTS body is not an aggregate")
    if (
        inner.grouping_sets
        or inner.join_steps
        or inner.order_by
        or inner.limit is not None
    ):
        raise Unsupported("decorrelated EXISTS body shape")
    for e in [inner.predicate, inner.having]:
        if e is not None and _contains_scalar_subq(e):
            raise Unsupported("nested subquery in a subquery body")
    hv_c = inner.having.canon() if inner.having is not None else ""
    canon_str = (
        f"{inner.canon()}|ck={','.join(canons)}|cv=qc_cv|having={hv_c}"
    )
    cnt = CorrScalar(
        outer_keys=tuple(outer_keys),
        inner_keys=tuple(inner_keys),
        canon_str=canon_str,
        spec=inner,
        count_like=True,
    )
    return _Func(
        "coalesce",
        (_BinOp(">", cnt, _Lit(0)), _Lit(False, "BOOLEAN")),
    )


def _rows_frame(node: Dict[str, Any]):
    """Lower an explicit ROWS or RANGE frame to the Spark
    ``rows/rangeBetween`` encoding ``(mode, lo, hi)`` (ints = offsets,
    negative = preceding; None = unbounded). Anything but literal
    non-negative integer offsets — GROUPS frames, expression/fractional
    offsets, mixed-mode bounds — raises Unsupported (passthrough)."""

    def k(which: str):
        e = node.get(f"{which}_expr")
        if e is None:
            return None
        lowered = _expr(e)
        if not isinstance(lowered, Lit) or not isinstance(lowered.value, int) \
                or isinstance(lowered.value, bool) or lowered.value < 0:
            raise Unsupported("non-literal window frame offset")
        return lowered.value

    modes = set()

    def bound(which: str):
        marker = node.get("start") if which == "lo" else node.get("end")
        for m, tag in (("rows", "_ROWS"), ("range", "_RANGE")):
            if isinstance(marker, str) and marker.endswith(tag):
                modes.add(m)
        if marker in ("CURRENT_ROW_ROWS", "CURRENT_ROW_RANGE"):
            return 0
        if marker in ("EXPR_PRECEDING_ROWS", "EXPR_PRECEDING_RANGE"):
            return -k("start" if which == "lo" else "end")
        if marker in ("EXPR_FOLLOWING_ROWS", "EXPR_FOLLOWING_RANGE"):
            return k("start" if which == "lo" else "end")
        if which == "lo" and marker == "UNBOUNDED_PRECEDING":
            return None
        if which == "hi" and marker == "UNBOUNDED_FOLLOWING":
            return None
        raise Unsupported(f"window frame bound {marker}")

    lo, hi = bound("lo"), bound("hi")
    if len(modes) > 1:
        raise Unsupported("mixed window frame modes")
    if lo is not None and hi is not None and lo > hi:
        raise Unsupported("empty window frame")
    # UNBOUNDED..UNBOUNDED carries no mode marker: whole-partition either way
    return (modes.pop() if modes else "rows", lo, hi)


def _contains_window(e: Expr) -> bool:
    from .ir import WindowExpr

    return any(isinstance(n, WindowExpr) for n in e.walk())


def _contains_agg(e: Expr) -> bool:
    return any(isinstance(n, AggCall) for n in e.walk())


def parse_agg_query(sql: str) -> AggSpec:
    """Parse ``sql`` into an :class:`AggSpec`, or raise :class:`Unsupported`."""
    spec = parse_query(sql)
    if not isinstance(spec, AggSpec):
        raise Unsupported("not an aggregate query")
    return spec


def _lower_pivot(node: Dict[str, Any]):
    """``SELECT * FROM (<projection>) PIVOT (agg [AS a], … FOR col IN
    (v1 [AS n1], …)) [ORDER BY] [LIMIT]`` — rewritten to the equivalent
    grouped CASE aggregation over the source, so the pivot rides the
    existing mergeable states (one cell per (IN value, aggregate), each an
    ``agg FILTER (WHERE col = v)`` via :func:`_apply_agg_filter`).

    Naming matches Spark's PIVOT output exactly: implicit group keys =
    source columns neither pivoted nor consumed by an aggregate; a single
    aggregate names cells by the IN value alone (its alias is ignored,
    Spark behavior); multiple aggregates name ``{value}_{alias}`` and
    require aliases. Count-family cells get a presence guard
    (``CASE WHEN count(matching) > 0 THEN …``): Spark's pivot yields NULL
    for a missing (group, value) combination where the plain CASE rewrite
    would say 0.

    Supported: one or more pivot columns (bare source columns; r13 adds
    the multi-column ``FOR (a, b) IN (('x', 1), …)`` form with Spark's
    ``{v1, v2}`` cell naming), scalar string/int IN values, a
    single-base-table projection source with no grouping or modifiers.
    Everything else (UNPIVOT, star entries, derived sources) stays
    passthrough — Spark runs them natively."""
    from .ir import AggSpec

    sel_list = node.get("select_list", [])
    if not (
        len(sel_list) == 1
        and sel_list[0].get("class") == "STAR"
        and not sel_list[0].get("expr")
        and not sel_list[0].get("exclude_list")
        and not sel_list[0].get("replace_list")
    ):
        raise Unsupported("PIVOT outer must be SELECT *")
    if (
        node.get("where_clause") is not None
        or node.get("having") is not None
        or node.get("qualify") is not None
        or node.get("group_expressions")
        or node.get("sample")
    ):
        raise Unsupported("clauses on the PIVOT outer")

    pv = node["from_table"]
    if (
        pv.get("unpivot_names")
        or pv.get("include_nulls")
        or pv.get("groups")
        or pv.get("sample")
    ):
        raise Unsupported("UNPIVOT / PIVOT extras")
    pivots = pv.get("pivots") or []
    if len(pivots) != 1:
        raise Unsupported("multi-column PIVOT")
    p0 = pivots[0]
    if p0.get("unpivot_names"):
        raise Unsupported("UNPIVOT")
    pexprs = p0.get("pivot_expressions") or []
    if not pexprs:
        raise Unsupported("empty pivot expression")
    pcols: List[Col] = []
    for pe in pexprs:
        c = _expr(pe)
        if not isinstance(c, Col):
            raise Unsupported("pivot expression must be a column")
        pcols.append(c)

    # r13: k pivot columns — ``FOR (a, b) IN (('x', 1) [AS n], …)``. Each
    # entry carries one literal per pivot column; the cell predicate is
    # the conjunction. Unaliased multi-column cells take Spark's exact
    # ``{v1, v2}`` naming.
    entries: List[Tuple[str, Tuple[Lit, ...]]] = []
    for ent in p0.get("entries") or []:
        vals = ent.get("values") or []
        if ent.get("star_expr") is not None or len(vals) != len(pcols):
            raise Unsupported("PIVOT entry shape")
        lits: List[Lit] = []
        for v in vals:
            lit = _const_value({"value": v})
            if (
                lit.value is None
                or isinstance(lit.value, bool)
                or not isinstance(lit.value, (str, int))
            ):
                raise Unsupported(
                    "PIVOT entry value must be a string/int literal"
                )
            lits.append(lit)
        if ent.get("alias"):
            nm = ent["alias"]
        elif len(lits) == 1:
            nm = str(lits[0].value)
        else:
            nm = "{" + ", ".join(str(l.value) for l in lits) + "}"
        entries.append((nm, tuple(lits)))
    if not entries:
        raise Unsupported("empty PIVOT IN list")
    if len({n for n, _ in entries}) != len(entries):
        raise Unsupported("duplicate PIVOT entry names")

    aggs: List[Tuple[str, Expr]] = []
    for a in pv.get("aggregates") or []:
        e = _expr(a)
        if (
            not _contains_agg(e)
            or _contains_window(e)
            or _contains_scalar_subq(e)
        ):
            raise Unsupported("PIVOT aggregate shape")
        # every column ref must sit INSIDE an aggregate (Spark requires
        # it too — a bare column here would be an unaggregated output)
        inside: set = set()
        for n in e.walk():
            if isinstance(n, AggCall):
                for m in n.walk():
                    if isinstance(m, Col):
                        inside.add(id(m))
        for n in e.walk():
            if isinstance(n, Col) and id(n) not in inside:
                raise Unsupported("non-aggregated column in PIVOT aggregate")
        aggs.append((a.get("alias") or "", e))
    if not aggs:
        raise Unsupported("PIVOT without aggregates")
    if len(aggs) > 1 and any(not al for al, _ in aggs):
        raise Unsupported("multi-aggregate PIVOT needs aliases")

    src = pv.get("source") or {}
    if src.get("type") != "SUBQUERY":
        raise Unsupported("PIVOT source must be a derived projection")
    sub = src["subquery"]["node"]
    if sub.get("type") != "SELECT_NODE":
        raise Unsupported("PIVOT source shape")
    if (
        sub.get("modifiers")
        or sub.get("group_expressions")
        or sub.get("group_sets")
        or sub.get("having") is not None
        or sub.get("qualify") is not None
        or sub.get("sample")
        or (sub.get("cte_map", {}) or {}).get("map")
    ):
        raise Unsupported("PIVOT source with modifiers/grouping")
    ft = sub.get("from_table") or {}
    if ft.get("type") != "BASE_TABLE" or ft.get("sample"):
        raise Unsupported("PIVOT source must scan one base table")
    table = _base_table_name(ft)

    items: List[Tuple[str, Expr]] = []
    # the source items lower under the SOURCE's own scope — without the
    # push a struct field path (`meta.t AS t`) would fall to the legacy
    # qualifier-dropping branch and come out as a nonexistent bare column
    src_scope = _visible_names(ft)
    for i, s in enumerate(sub.get("select_list") or []):
        if s.get("class") == "STAR":
            raise Unsupported("PIVOT source SELECT *")
        _SCOPE.append(src_scope)
        try:
            e = _expr(s)
        finally:
            _SCOPE.pop()
        alias = s.get("alias") or (
            e.name.rsplit(".", 1)[-1] if isinstance(e, Col) else f"col{i}"
        )
        if alias.startswith("__qc"):
            raise Unsupported(f"alias {alias} uses reserved __qc prefix")
        if _contains_agg(e) or _contains_window(e) or _contains_scalar_subq(e):
            raise Unsupported("PIVOT source item shape")
        items.append((alias, e))
    _reject_volatile_items([e for _, e in items], "PIVOT source items")
    by_name = dict(items)
    if len(by_name) != len(items):
        raise Unsupported("duplicate source projection names")
    pnames = [c.name for c in pcols]
    if len(set(pnames)) != len(pnames):
        raise Unsupported("duplicate pivot columns")
    for pn in pnames:
        if pn not in by_name:
            raise Unsupported("pivot column not in the source projection")
    pivot_exprs = [by_name[pn] for pn in pnames]

    # inline source expressions into the aggregate args (the AggSpec reads
    # the base table directly) and track which source columns an aggregate
    # consumes — those are excluded from the implicit group keys
    consumed: set = set()

    def _inline(n):
        if isinstance(n, Col):
            if n.name not in by_name:
                raise Unsupported(
                    f"PIVOT aggregate references unknown column {n.name}"
                )
            consumed.add(n.name)
            return by_name[n.name]
        return n

    from .ir import transform as _transform

    # inline source projections into the cell expressions (every Col is
    # inside an aggregate — validated above — so a blanket inline is exact)
    aggs2: List[Tuple[str, Expr]] = []
    for al, e in aggs:
        aggs2.append((al, _transform(e, _inline)))

    group_items = [
        SelectItem(n, e)
        for n, e in items
        if n not in pnames and n not in consumed
    ]

    count_family = {"count", "approx_count_distinct"}
    agg_items: List[SelectItem] = []
    for vname, lits in entries:
        cond: Expr = BinOp("=", pivot_exprs[0], lits[0])
        for pe, lit in zip(pivot_exprs[1:], lits[1:]):
            cond = BinOp("and", cond, BinOp("=", pe, lit))

        def _wrap(n):
            return (
                _apply_agg_filter(n, cond) if isinstance(n, AggCall) else n
            )

        for al, e in aggs2:
            cell: Expr = _transform(e, _wrap)
            if any(
                isinstance(n, AggCall) and n.fn.lower() in count_family
                for n in e.walk()
            ):
                # Spark pivot: a missing (group, value) combination is
                # NULL, while count over the CASE says 0 — guard on the
                # matching-row count (same count state, deduped)
                presence = AggCall(
                    "count", (Case(whens=((cond, Lit(1)),)),), False
                )
                cell = Case(whens=((BinOp(">", presence, Lit(0)), cell),))
            name = vname if len(aggs2) == 1 else f"{vname}_{al}"
            agg_items.append(SelectItem(name, cell))
    if len({i.name for i in agg_items}) != len(agg_items):
        raise Unsupported("duplicate PIVOT output names")

    # outer modifiers: ORDER BY / LIMIT / OFFSET replay post-finalize.
    # ORDER BY gets the same parse-time validation as UNPIVOT/set-ops:
    # positional refs resolve against the output list, anything that is
    # not an output column refuses early (consistent reason + timing; a
    # dotted ref would otherwise only surface at replay)
    out_names = [g.name for g in group_items] + [i.name for i in agg_items]
    order_by: List[OrderItem] = []
    limit: Optional[int] = None
    offset: Optional[int] = None
    for mod in node.get("modifiers", []):
        mt = mod.get("type")
        if mt == "ORDER_MODIFIER":
            for o in mod.get("orders", []):
                desc = o.get("type") == "DESCENDING"
                nf = None
                no = o.get("null_order")
                if no == "NULLS_FIRST":
                    nf = True
                elif no == "NULLS_LAST":
                    nf = False
                e = _expr(o["expression"])
                if isinstance(e, Lit) and isinstance(e.value, int):
                    if not 1 <= e.value <= len(out_names):
                        raise Unsupported("PIVOT order position out of range")
                    e = Col(out_names[e.value - 1])
                elif not (isinstance(e, Col) and e.name in out_names):
                    raise Unsupported(
                        "PIVOT ORDER BY must be an output column"
                    )
                order_by.append(OrderItem(e, desc, nf))
        elif mt == "LIMIT_MODIFIER":
            lim = mod.get("limit")
            if lim is not None:
                lv = _expr(lim)
                if not isinstance(lv, Lit) or not isinstance(lv.value, int):
                    raise Unsupported("non-literal limit")
                limit = lv.value
            if mod.get("offset") is not None:
                ov = _expr(mod["offset"])
                if not isinstance(ov, Lit) or not isinstance(ov.value, int):
                    raise Unsupported("non-literal offset")
                if not _df_offset_available():
                    raise Unsupported("OFFSET needs DataFrame.offset (pyspark>=3.5)")
                offset = ov.value
        else:
            raise Unsupported(f"PIVOT outer modifier {mt}")

    where = sub.get("where_clause")
    if where is not None:
        _SCOPE.append(src_scope)
        try:
            where_ir = _expr(where)
        finally:
            _SCOPE.pop()
    else:
        where_ir = None
    return AggSpec(
        table=table,
        tables=(table,),
        join_steps=(),
        predicate=where_ir,
        group_by=tuple(group_items),
        aggregates=tuple(agg_items),
        select_order=tuple(
            [g.name for g in group_items] + [i.name for i in agg_items]
        ),
        order_by=tuple(order_by),
        limit=limit,
        offset=offset,
        having=None,
    )


def _lower_unpivot(node: Dict[str, Any]):
    """``SELECT * FROM (<cacheable>) UNPIVOT [INCLUDE NULLS] (v FOR k IN
    (c1 [AS n1], …)) [ORDER BY] [LIMIT]`` — the melt: lowered to a UNION
    ALL of one SubquerySpec branch per unpivoted column
    (``SELECT <kept>, '<name>' AS k, <ci> AS v FROM (inner) [WHERE ci IS
    NOT NULL]``), all branches sharing the ONE cached inner entry (branch
    2+ is a cache hit). Spark semantics pinned: kept columns keep source
    order then k then v; NULL cells drop unless INCLUDE NULLS; entry
    aliases rename the key value. Mixed-type value columns may fail the
    positional union at plan time — the session degrades those to
    passthrough, where Spark's native UNPIVOT applies its own coercion."""
    from .ir import UnionSpec

    sel_list = node.get("select_list", [])
    if not (
        len(sel_list) == 1
        and sel_list[0].get("class") == "STAR"
        and not sel_list[0].get("expr")
        and not sel_list[0].get("exclude_list")
        and not sel_list[0].get("replace_list")
    ):
        raise Unsupported("UNPIVOT outer must be SELECT *")
    if (
        node.get("where_clause") is not None
        or node.get("having") is not None
        or node.get("qualify") is not None
        or node.get("group_expressions")
        or node.get("sample")
    ):
        raise Unsupported("clauses on the UNPIVOT outer")

    pv = node["from_table"]
    if pv.get("groups") or pv.get("sample") or pv.get("aggregates"):
        raise Unsupported("UNPIVOT extras")
    vnames = pv.get("unpivot_names") or []
    pivots = pv.get("pivots") or []
    if len(vnames) != 1 or len(pivots) != 1:
        raise Unsupported("multi-column UNPIVOT")
    p0 = pivots[0]
    knames = p0.get("unpivot_names") or []
    if len(knames) != 1 or p0.get("pivot_expressions"):
        raise Unsupported("UNPIVOT key shape")
    vcol, kcol = vnames[0], knames[0]
    cols: List[Tuple[str, str]] = []  # (source column, key value)
    for ent in p0.get("entries") or []:
        if ent.get("star_expr") is not None or len(ent.get("values") or []) != 1:
            raise Unsupported("UNPIVOT entry shape")
        lit = _const_value({"value": ent["values"][0]})
        if not isinstance(lit.value, str):
            raise Unsupported("UNPIVOT entry must name a column")
        cols.append((lit.value, ent.get("alias") or lit.value))
    if not cols:
        raise Unsupported("empty UNPIVOT IN list")

    src = pv.get("source") or {}
    if src.get("type") != "SUBQUERY":
        raise Unsupported("UNPIVOT source must be a derived table")
    inner = _lower_select(src["subquery"]["node"])
    if _spec_has_scalar_subq(inner):
        raise Unsupported("subquery inside an UNPIVOT source")
    names = _branch_names(inner)
    unpivoted = {c for c, _ in cols}
    missing = unpivoted - set(names)
    if missing:
        raise Unsupported(f"UNPIVOT of unknown columns {sorted(missing)}")
    kept = [n for n in names if n not in unpivoted]
    if kcol in kept or vcol in kept:
        raise Unsupported("UNPIVOT key/value name collides with a kept column")

    include_nulls = bool(pv.get("include_nulls"))
    from .ir import SubquerySpec as _SubquerySpec

    branches = []
    for cname, kval in cols:
        branches.append(
            _SubquerySpec(
                inner=inner,
                items=tuple(
                    [SelectItem(n, Col(n)) for n in kept]
                    + [
                        SelectItem(kcol, Lit(kval, "VARCHAR")),
                        SelectItem(vcol, Col(cname)),
                    ]
                ),
                predicate=(
                    None
                    if include_nulls
                    else IsNull(Col(cname), negated=True)
                ),
            )
        )

    # outer modifiers: ORDER BY / LIMIT [OFFSET]
    out_names = kept + [kcol, vcol]
    order_by: List[OrderItem] = []
    limit: Optional[int] = None
    offset: Optional[int] = None
    for mod in node.get("modifiers", []):
        mt = mod.get("type")
        if mt == "ORDER_MODIFIER":
            for o in mod.get("orders", []):
                desc = o.get("type") == "DESCENDING"
                nf = None
                no = o.get("null_order")
                if no == "NULLS_FIRST":
                    nf = True
                elif no == "NULLS_LAST":
                    nf = False
                e = _expr(o["expression"])
                if isinstance(e, Lit) and isinstance(e.value, int):
                    if not 1 <= e.value <= len(out_names):
                        raise Unsupported("UNPIVOT order position out of range")
                    e = Col(out_names[e.value - 1])
                elif not (isinstance(e, Col) and e.name in out_names):
                    # a dotted/unknown ref here would otherwise slip
                    # through the legacy qualifier-drop (same class as
                    # the derived-table outer-scope fix)
                    raise Unsupported(
                        "UNPIVOT ORDER BY must be an output column"
                    )
                order_by.append(OrderItem(e, desc, nf))
        elif mt == "LIMIT_MODIFIER":
            lim = mod.get("limit")
            if lim is not None:
                lv = _expr(lim)
                if not isinstance(lv, Lit) or not isinstance(lv.value, int):
                    raise Unsupported("non-literal limit")
                limit = lv.value
            if mod.get("offset") is not None:
                ov = _expr(mod["offset"])
                if not isinstance(ov, Lit) or not isinstance(ov.value, int):
                    raise Unsupported("non-literal offset")
                if not _df_offset_available():
                    raise Unsupported(
                        "OFFSET needs DataFrame.offset (pyspark>=3.5)"
                    )
                offset = ov.value
        else:
            raise Unsupported(f"UNPIVOT outer modifier {mt}")

    return UnionSpec(
        branches=tuple(branches),
        all=True,
        order_by=tuple(order_by),
        limit=limit,
        op="union",
        offset=offset,
    )


def parse_query(sql: str, schema_lookup=None):
    """Parse ``sql`` into an :class:`AggSpec`, :class:`FilterSpec`, or
    :class:`SubquerySpec`.

    Supported shapes (the reference's cacheable surface, README.md:126-130):
    aggregates — ``SELECT <agg-or-group exprs> FROM <one table> [WHERE pred]
    [GROUP BY ...] [HAVING ...] [ORDER BY ...] [LIMIT n]``; simple filters —
    ``SELECT <cols|*> FROM <one table> [WHERE pred] [ORDER BY] [LIMIT]``;
    derived tables — ``SELECT ... FROM (<aggregate>) x [WHERE] [ORDER BY]
    [LIMIT]`` (the reference's bottom-up rule caches aggregates inside
    subqueries for free, ``src/aggregate.rs:74-76``).

    ``schema_lookup`` (``name -> list[str] | None``, typically the
    session's registered-view columns) enables NATURAL-join de-sugaring
    onto the USING path; without it NATURAL joins stay Unsupported
    (passthrough). Because the de-sugar reads CURRENT schemas, callers
    must not memoize specs for SQL containing NATURAL joins.
    """
    node = _parse_json_ast(sql)
    _SCHEMA_LOOKUP.append(schema_lookup)
    _CTE_SHADOW.append(_collect_cte_names(node))
    try:
        if schema_lookup is not None:
            _desugar_natural_joins(node, schema_lookup)
        return _lower_select(node)
    finally:
        _CTE_SHADOW.pop()
        _SCHEMA_LOOKUP.pop()


def _collect_cte_names(node) -> set:
    """Every CTE name declared anywhere in the statement (lowercased) —
    the over-broad-but-safe shadow set for _visible_names' membership
    check (skipping a check degrades to the legacy leniency-free drop,
    never to a wrong answer)."""
    names: set = set()

    def walk(n) -> None:
        if isinstance(n, list):
            for v in n:
                walk(v)
            return
        if not isinstance(n, dict):
            return
        for cte in (n.get("cte_map", {}) or {}).get("map") or ():
            k = cte.get("key")
            if k:
                names.add(k.lower())
        for v in n.values():
            walk(v)

    walk(node)
    return names


def _desugar_natural_joins(node, schema_lookup) -> None:
    """Rewrite every resolvable NATURAL join in ``node`` (in place) into
    the equivalent explicit USING join: ``A NATURAL [kind] JOIN B`` ≡
    ``A [kind] JOIN B USING (<common columns, left order>)`` — the SQL
    definition, and what Spark's own analyzer does. The parser alone
    cannot know the common columns; the session's registered-view schemas
    can (r14 verdict item: NATURAL 'needs schema knowledge at parse time'
    — the session HAS it at plan time).

    Everything downstream then rides the r14 USING machinery unchanged:
    ``_visible_names``'s side-qualified-key refusal (a NATURAL key is a
    USING key), the RIGHT→LEFT swap, entry sharing with the explicit
    USING/ON spellings, and the star-leaf WHERE pull-up guard.

    Unresolvable shapes (unknown table, subquery operand, no common
    columns — the degenerate cross product) are left as NATURAL and hit
    the lowering's explicit Unsupported → passthrough, so Spark's own
    resolution stays authoritative.

    CTE guard: a CTE can SHADOW a registered view's name with a
    different column set, and the lookup here sees only the catalog —
    de-sugaring against the view's schema would derive the wrong key
    set (wrong join keys = the wrong-answer class, not a refusal). Any
    statement carrying a CTE map keeps its NATURAL joins un-desugared
    (→ passthrough).
    """

    def has_cte(n) -> bool:
        if isinstance(n, dict):
            if n.get("cte_map", {}).get("map"):
                return True
            return any(has_cte(v) for v in n.values())
        if isinstance(n, list):
            return any(has_cte(v) for v in n)
        return False

    if has_cte(node):
        return

    def vis_cols(n) -> Optional[List[str]]:
        if not isinstance(n, dict):
            return None
        t = n.get("type")
        if t == "BASE_TABLE":
            cols = schema_lookup(_base_table_name(n))
            return [c.lower() for c in cols] if cols else None
        if t == "JOIN":
            if n.get("ref_type") == "NATURAL":
                return None  # child did not desugar: give up upward
            left = vis_cols(n.get("left") or {})
            right = vis_cols(n.get("right") or {})
            if left is None or right is None:
                return None
            u = {c.lower() for c in (n.get("using_columns") or ())}
            return left + [c for c in right if c not in u]
        return None  # SUBQUERY/PIVOT/...: schema unknown here

    def walk(n) -> None:
        if isinstance(n, list):
            for v in n:
                walk(v)
            return
        if not isinstance(n, dict):
            return
        for v in n.values():
            walk(v)  # bottom-up: children first
        if n.get("type") == "JOIN" and n.get("ref_type") == "NATURAL":
            left = vis_cols(n.get("left") or {})
            right = vis_cols(n.get("right") or {})
            if left is None or right is None:
                return
            rset = set(right)
            common = [c for c in left if c in rset]
            if not common or len(common) != len(set(common)):
                return  # cross product / ambiguous left dup: passthrough
            n["using_columns"] = common
            n["ref_type"] = "REGULAR"

    walk(node)


def _lower_select(node: Dict[str, Any]):
    """Lower one SELECT node (top-level or derived-table body)."""
    from .ir import FilterSpec

    if node.get("type") == "SET_OPERATION_NODE":
        return _lower_setop(node)
    if node.get("type") != "SELECT_NODE":
        raise Unsupported(f"statement {node.get('type')}")
    if node.get("sample"):
        # silently dropping a sample clause would aggregate the FULL table
        # while claiming the sampled result (r11 silent-drop audit)
        raise Unsupported("USING SAMPLE")
    ctes = node.get("cte_map", {}).get("map")
    if ctes:
        return _lower_cte(node, ctes)

    ft0 = node.get("from_table") or {}
    if ft0.get("type") == "PIVOT":
        # outer modifiers lower under the OUTER's scope (same class as
        # the derived-table outer-scope fix: with the caller's empty
        # scope a dotted ORDER BY ref fell to legacy qualifier-dropping)
        _SCOPE.append(_visible_names(ft0))
        try:
            if ft0.get("unpivot_names"):
                return _lower_unpivot(node)
            return _lower_pivot(node)
        finally:
            _SCOPE.pop()
    if ft0.get("type") == "SUBQUERY":
        # a derived PROJECTION source (no aggregate) inlines into the
        # outer query — the rewritten single-table plan then caches
        # through the normal pipeline (r14)
        inlined = _inline_derived_projection(node, ft0)
        if inlined is not None:
            return _lower_select(inlined)
        # the outer items must lower under the OUTER's scope: with the
        # caller's (often empty) scope a struct path like `meta.t` above
        # the derived table fell to the legacy qualifier-dropping branch,
        # resolved to the inner's `t` output and ANSWERED a query plain
        # Spark rejects (r13 sf0.01 sweep find)
        _SCOPE.append(_visible_names(ft0))
        try:
            return _lower_subquery(node)
        finally:
            _SCOPE.pop()
    if ft0.get("type") == "JOIN":
        # a STAR-projection leaf de-sugars into the plain star-join path
        inlined = _inline_star_join_leaf(node, ft0)
        if inlined is not None:
            return _lower_select(inlined)
        # a derived table at the head of a join spine: SELECT ... FROM
        # (<aggregate>) x JOIN dim ON ... — lower via the subquery path
        leaf = ft0
        while isinstance(leaf, dict) and leaf.get("type") == "JOIN":
            leaf = leaf.get("left") or {}
        if leaf.get("type") == "SUBQUERY":
            _SCOPE.append(_visible_names(ft0))
            try:
                return _lower_subquery(node)
            finally:
                _SCOPE.pop()

    if node.get("qualify") is not None:
        # QUALIFY directly on an aggregate (r13): desugar to the
        # derived-table window-replay shape — cache the bare aggregate,
        # evaluate the window filter over its finalized O(state) rows.
        # Silently dropping it anywhere would return unfiltered rows
        # (r11 silent-drop audit); Spark itself has no QUALIFY, so any
        # refusal fails loudly in the passthrough parse.
        return _lower_direct_qualify(node)

    _SCOPE.append(_visible_names(node.get("from_table") or {}))
    try:
        return _lower_select_from(node)
    finally:
        _SCOPE.pop()


def _lower_direct_qualify(node: Dict[str, Any]):
    """``SELECT k, agg(...) AS a FROM t [WHERE] GROUP BY k [HAVING]
    QUALIFY <window predicate> [ORDER BY] [LIMIT]`` ≡ the derived form
    ``SELECT * FROM (<aggregate>) QUALIFY …`` — lower the bare aggregate
    (modifiers and QUALIFY stripped), wrap it in a SubquerySpec whose
    identity projection carries the QUALIFY filter and outer ORDER/LIMIT.
    The QUALIFY expression may reference only select outputs (incl.
    inside its window specs) — same visibility rule as the derived
    shape."""
    from .ir import AggSpec as _AggSpec, SubquerySpec as _SubquerySpec

    inner_json = dict(node)
    inner_json["qualify"] = None
    inner_json["modifiers"] = []
    inner = _lower_select(inner_json)
    if not isinstance(inner, _AggSpec) or inner.grouping_sets:
        raise Unsupported("QUALIFY outside an aggregate shape")

    qualify_expr = _expr(node["qualify"])
    if _contains_agg(qualify_expr):
        raise Unsupported("aggregate in QUALIFY")
    if _contains_scalar_subq(qualify_expr):
        raise Unsupported("subquery in QUALIFY")
    allowed = set(inner.select_order)
    for nd in qualify_expr.walk():
        if isinstance(nd, Col) and nd.name not in allowed:
            raise Unsupported(
                f"QUALIFY references {nd.name}, not a select output"
            )

    order_by: List[OrderItem] = []
    limit: Optional[int] = None
    names = list(inner.select_order)
    for mod in node.get("modifiers", []):
        mt = mod.get("type")
        if mt == "ORDER_MODIFIER":
            for o in mod.get("orders", []):
                desc = o.get("type") == "DESCENDING"
                nf = None
                no = o.get("null_order")
                if no == "NULLS_FIRST":
                    nf = True
                elif no == "NULLS_LAST":
                    nf = False
                e = _expr(o["expression"])
                if isinstance(e, Lit) and isinstance(e.value, int):
                    if not (1 <= e.value <= len(names)):
                        raise Unsupported("order-by position out of range")
                    e = Col(names[e.value - 1])
                if not (isinstance(e, Col) and e.name in allowed):
                    raise Unsupported(
                        "ORDER BY not an output column (QUALIFY path)"
                    )
                order_by.append(OrderItem(e, desc, nf))
        elif mt == "LIMIT_MODIFIER":
            lim = mod.get("limit")
            if lim is not None:
                lv = _expr(lim)
                if not isinstance(lv, Lit) or not isinstance(lv.value, int):
                    raise Unsupported("non-literal limit")
                limit = lv.value
            if mod.get("offset") is not None:
                raise Unsupported("OFFSET with QUALIFY")
        else:
            raise Unsupported(f"modifier {mt} with QUALIFY")

    return _SubquerySpec(
        inner=inner,
        items=tuple(SelectItem(n, Col(n)) for n in names),
        predicate=None,
        order_by=tuple(order_by),
        limit=limit,
        qualify=qualify_expr,
    )


def _lower_select_from(node: Dict[str, Any]):
    from .ir import FilterSpec

    # FROM: one base table, or a LEFT-DEEP tree of INNER/LEFT equi-joins
    # over base tables (the fact table first, carrying the temporal column).
    # Joins are kept as explicit steps so LEFT joins (fact rows preserved
    # with NULL dims) work; the session builds them as real df.join calls.
    from .ir import JoinStep

    tables: List[str] = []
    join_steps: List[JoinStep] = []

    def walk_from(ft: Dict[str, Any]) -> None:
        t = ft.get("type")
        if t == "BASE_TABLE":
            if ft.get("sample"):
                raise Unsupported("TABLESAMPLE")
            tables.append(_base_table_name(ft))
            return
        if t == "JOIN":
            jt = ft.get("join_type")
            if ft.get("ref_type") == "NATURAL":
                # NATURAL needs schema knowledge the parser doesn't have;
                # passthrough keeps Spark's own resolution authoritative
                raise Unsupported("NATURAL join")
            if jt == "RIGHT":
                # A RIGHT JOIN B ON c ≡ B LEFT JOIN A ON c. Only sound here
                # when both operands are base tables (a composite left side
                # can't be re-anchored into a left-deep step chain). After
                # the swap the PRESERVED table is tables[0]; the ts-on-fact
                # check then refuses the dim-preserved spelling (whose
                # NULL-extended rows are not incrementally maintainable).
                left = ft.get("left") or {}
                right = ft.get("right") or {}
                if (
                    left.get("type") != "BASE_TABLE"
                    or right.get("type") != "BASE_TABLE"
                ):
                    raise Unsupported("RIGHT join over a join tree")
                ft = {**ft, "join_type": "LEFT", "left": right, "right": left}
                jt = "LEFT"
            if jt == "FULL":
                # FULL OUTER (r15; star-generalized r16): the FULL edge's
                # right side must be a base table and the edge must CLOSE
                # the spine (the session enforces last-position — a FULL
                # deeper in the tree surfaces as a non-last full step and
                # refuses there). The left side may now be a whole
                # inner/left join spine: the union-merge seam still
                # cannot maintain FULL directly (dim-side NULL-extended
                # rows RETRACT on fresh matches — the r14 argument
                # stands), so the session plans a COMPOSITE: cached
                # LEFT half over the spine + cached
                # monotone matched-dim-set + an O(dim) anti side
                # recomputed per query.
                left = ft.get("left") or {}
                right0 = ft.get("right") or {}
                f_using = tuple(
                    c.lower() for c in (ft.get("using_columns") or ())
                )
                f_cond = ft.get("condition")
                if (
                    right0.get("type") != "BASE_TABLE"
                    or (f_cond is None) == (not f_using)  # exactly one form
                    or join_steps  # left-deep: FULL parses before its spine
                ):
                    raise Unsupported(
                        "FULL join (only a spine-closing base-table "
                        "ON/USING edge caches)"
                    )
                walk_from(left)
                if any(js.how == "full" for js in join_steps):
                    raise Unsupported("more than one FULL edge")
                tables.append(_base_table_name(right0))
                join_steps.append(
                    JoinStep(
                        _base_table_name(right0),
                        _expr(f_cond) if f_cond is not None else None,
                        "full",
                        using=f_using,
                    )
                )
                return
            if jt not in ("INNER", "LEFT", "CROSS"):
                raise Unsupported(f"join type {jt}")
            walk_from(ft["left"])
            right = ft.get("right") or {}
            if right.get("type") != "BASE_TABLE":
                raise Unsupported("non-left-deep join tree")
            tables.append(_base_table_name(right))
            cond = ft.get("condition")
            # lowercase-normalize USING keys: Spark resolves them
            # case-insensitively, so spelling case must neither refuse
            # (session membership checks) nor split cache entries
            # (fingerprint canon) — mirrors _visible_names (r15 advice)
            using = tuple(
                c.lower() for c in (ft.get("using_columns") or ())
            )
            if cond is None and not using and jt != "CROSS":
                raise Unsupported("USING/NATURAL join")
            join_steps.append(
                JoinStep(
                    _base_table_name(right),
                    _expr(cond) if cond is not None else None,
                    "left" if jt == "LEFT" else "inner",
                    using=using,
                )
            )
            return
        raise Unsupported(f"from {t}")

    walk_from(node.get("from_table") or {})
    if not tables:
        raise Unsupported("no base table")
    if len(set(tables)) != len(tables):
        # Explicit refusal (r14, considered and rejected — not merely an
        # alias-resolution gap): in a self-join BOTH operands advance with
        # fresh data, so the incremental delta is
        #   Δ(A⋈A) = ΔA⋈A_old + A_old⋈ΔA + ΔA⋈ΔA
        # and the union-merge seam (cached state ∪ partial over fresh
        # rows) can only express old⋈old + fresh⋈fresh — the cross terms
        # need fresh rows joined against the FULL history, violating the
        # O(fresh) refresh contract (star-join rule: fact append-only,
        # every other side STATIC). r13's alias scopes could resolve the
        # column ambiguity, but no sound refresh exists on this seam.
        raise Unsupported("self-join (delta needs old x new cross terms)")
    table = tables[0]

    # modifiers: order / limit / offset / distinct
    order_by: List[OrderItem] = []
    limit: Optional[int] = None
    offset: Optional[int] = None
    distinct = False
    for mod in node.get("modifiers", []):
        mt = mod.get("type")
        if mt == "ORDER_MODIFIER":
            for o in mod.get("orders", []):
                desc = o.get("type") == "DESCENDING"
                nf = None
                no = o.get("null_order")
                if no == "NULLS_FIRST":
                    nf = True
                elif no == "NULLS_LAST":
                    nf = False
                order_by.append(OrderItem(_expr(o["expression"]), desc, nf))
        elif mt == "LIMIT_MODIFIER":
            lim = mod.get("limit")
            if lim is not None:
                lv = _expr(lim)
                if not isinstance(lv, Lit) or not isinstance(lv.value, int):
                    raise Unsupported("non-literal limit")
                limit = lv.value
            if mod.get("offset") is not None:
                # pagination: post-finalize like LIMIT — supported on the
                # plain aggregate shape only (guards at each other return)
                ov = _expr(mod["offset"])
                if not isinstance(ov, Lit) or not isinstance(ov.value, int):
                    raise Unsupported("non-literal offset")
                if not _df_offset_available():
                    raise Unsupported("OFFSET needs DataFrame.offset (pyspark>=3.5)")
                offset = ov.value
        elif mt == "DISTINCT_MODIFIER":
            if mod.get("distinct_on_targets"):
                # DISTINCT ON (k): one arbitrary row per target group —
                # treating it as plain DISTINCT over all outputs would
                # return MORE rows (r11 silent-drop audit). Spark has no
                # DISTINCT ON either; passthrough surfaces its parse error.
                raise Unsupported("DISTINCT ON")
            distinct = True
        else:
            raise Unsupported(f"modifier {mt}")

    where = node.get("where_clause")
    predicate = _expr(where) if where is not None else None

    # select list with synthesized names; bare `SELECT *` → star=True
    star = False
    raw_items: List[Tuple[str, Expr]] = []
    sel_list = node.get("select_list", [])
    if len(sel_list) == 1 and sel_list[0].get("class") == "STAR" and not sel_list[0].get("expr"):
        if sel_list[0].get("exclude_list") or sel_list[0].get("replace_list"):
            raise Unsupported("star with exclude/replace")
        star = True
    else:
        for i, sel in enumerate(sel_list):
            e = _expr(sel)
            alias = sel.get("alias") or ""
            if not alias:
                if isinstance(e, Col):
                    # Spark names an unaliased field ref by its LAST path
                    # segment (SELECT meta.t -> column `t`)
                    alias = e.name.rsplit(".", 1)[-1]
                else:
                    alias = f"col{i}"
            if alias.startswith("__qc"):
                # reserved prefix: state column names (__qc{i}_*) and the
                # hidden HAVING item (__qc_having) would collide
                raise Unsupported(f"alias {alias} uses reserved __qc prefix")
            raw_items.append((alias, e))
    if not raw_items and not star:
        raise Unsupported("empty select list")

    having_node = node.get("having")
    if distinct:
        # SELECT DISTINCT cols FROM t [WHERE] ≡ GROUP BY over all outputs:
        # cache it as an aggregate whose state is the group keys plus ONE
        # hidden count item (dropped at finalize — never in select_order),
        # so the distinct set is maintained incrementally like any rollup
        if star:
            raise Unsupported("SELECT DISTINCT *")
        if node.get("group_expressions") or having_node is not None:
            raise Unsupported("DISTINCT with GROUP BY/HAVING")
        if any(
            _contains_agg(e) or _contains_scalar_subq(e) for _, e in raw_items
        ):
            raise Unsupported("DISTINCT over aggregates/subqueries")
        if any(_contains_window(e) for _, e in raw_items):
            raise Unsupported("DISTINCT over window functions")
        if offset is not None:
            raise Unsupported("OFFSET on SELECT DISTINCT")
        # joined DISTINCT allowed since r13: the key-set state rides the
        # same cached star-join pipeline as a joined GROUP BY
        return AggSpec(
            table=table,
            tables=tuple(tables),
            join_steps=tuple(join_steps),
            predicate=predicate,
            group_by=tuple(SelectItem(n, e) for n, e in raw_items),
            aggregates=(
                SelectItem("__qc_d", AggCall("count", (Star(),), False)),
            ),
            select_order=tuple(n for n, _ in raw_items),
            order_by=tuple(order_by),
            limit=limit,
            having=None,
        )
    if star or not (
        any(_contains_agg(e) for _, e in raw_items)
        # ``SELECT k FROM t GROUP BY k HAVING count(*) > n`` and
        # ``… ORDER BY count(*)``: the only aggregate lives in HAVING /
        # ORDER BY — still the aggregate shape (planned as hidden select
        # items, so the cached entry has real partial state)
        or (
            node.get("group_expressions")
            and (
                (
                    having_node is not None
                    and _contains_agg(_expr(having_node))
                )
                or any(_contains_agg(o.expr) for o in order_by)
            )
        )
    ):
        # non-aggregate shape → FilterSpec (group-by/having make no sense)
        if node.get("group_expressions") or having_node is not None:
            raise Unsupported("group by / having without aggregates")
        if len(tables) > 1:
            raise Unsupported("filter-query caching is single-table")
        if any(_contains_window(e) for _, e in raw_items) or any(
            _contains_window(o.expr) for o in order_by
        ):
            # windows over a cached ROW SET would have to recompute over
            # the whole state at read time with topk/limit tiers disabled —
            # supported only above a derived-table aggregate (SubquerySpec)
            raise Unsupported("window function over a filter query")
        if any(_contains_scalar_subq(o.expr) for o in order_by):
            # subqueries resolve in predicates/HAVING/select items only
            raise Unsupported("scalar subquery in ORDER BY")
        # row-set state would freeze volatile values (now(), random())
        # at store time — stale on every later read
        _reject_volatile_items(
            [e for _, e in raw_items] + [o.expr for o in order_by],
            "filter-query select/order items",
        )
        if offset is not None:
            # the top-k tier's state IS the limited row set — an offset
            # would need limit+offset rows stored; keep passthrough
            raise Unsupported("OFFSET on a filter query")
        from .ir import ExistsSubquery as _ExistsSQ, InSubquery as _InSQ

        for _, e in raw_items:
            for n in e.walk():
                if isinstance(n, (_InSQ, _ExistsSQ)):
                    # IN/EXISTS produce booleans for predicates; in the
                    # select list they stay passthrough
                    raise Unsupported("IN/EXISTS subquery in the select list")
        return FilterSpec(
            table=table,
            predicate=predicate,
            items=None if star else tuple(SelectItem(n, e) for n, e in raw_items),
            order_by=tuple(order_by),
            limit=limit,
        )

    # group expressions; resolve positional (GROUP BY 1) and alias refs
    group_items: List[SelectItem] = []
    grouped_exprs: List[Expr] = []
    if (
        node.get("aggregate_handling") == "FORCE_AGGREGATES"
        and not node.get("group_expressions")
    ):
        # GROUP BY ALL (duckdb marker: FORCE_AGGREGATES with no explicit
        # groups; Spark 3.4+ accepts the same syntax in passthrough):
        # every select item without an aggregate is a group key
        for nme, e in raw_items:
            if not _contains_agg(e) and not _contains_window(e):
                group_items.append(SelectItem(nme, e))
                grouped_exprs.append(e)
    for ge in node.get("group_expressions", []):
        g = _expr(ge)
        if isinstance(g, Lit) and isinstance(g.value, int):
            idx = g.value - 1
            if not 0 <= idx < len(raw_items):
                raise Unsupported("group-by position out of range")
            name, e = raw_items[idx]
            group_items.append(SelectItem(name, e))
            grouped_exprs.append(e)
            continue
        if isinstance(g, Col):
            # may reference a select ALIAS. Spark resolves the REAL
            # column FIRST and the alias second; duckdb binds the alias
            # first — substituting blindly answered shadowed spellings
            # Spark refuses with MISSING_AGGREGATION (r16 find). So:
            # * membership KNOWN, name is no column (False) → full alias
            #   substitution (including plain-column aliases);
            # * membership UNKNOWN (scope-less parse_agg_query callers;
            #   the session always parses with registered-view scopes) →
            #   legacy behavior: substitute EXPRESSION aliases only;
            # * a real column (True) or a dotted struct path → no
            #   substitution; the rename path below keeps output naming.
            memb = (
                _scope_col_membership(g.name)
                if "." not in g.name
                else True
            )
            sub = None
            if memb is False:
                sub = next(
                    (p for p in raw_items if p[0] == g.name), None
                )
            elif memb is None:
                sub = next(
                    (
                        p
                        for p in raw_items
                        if p[0] == g.name and not isinstance(p[1], Col)
                    ),
                    None,
                )
            if sub is not None:
                group_items.append(SelectItem(sub[0], sub[1]))
                grouped_exprs.append(sub[1])
                continue
            # a select item may ALIAS this grouped column
            # (``SELECT k AS a … GROUP BY k``): name the group output
            # by the alias so the finalize's select-by-name resolves
            # (same naming GROUP BY 1 positional produces)
            for name, e in raw_items:
                if e == g:
                    group_items.append(SelectItem(name, e))
                    break
            else:
                group_items.append(SelectItem(g.name, g))
            grouped_exprs.append(g)
            continue
        # expression group-by: find matching select item for the name
        for name, e in raw_items:
            if e == g:
                group_items.append(SelectItem(name, e))
                break
        else:
            group_items.append(SelectItem(f"g{len(group_items)}", g))
        grouped_exprs.append(g)

    # bare grouping()/grouping_id() items are reconstructible per grouping
    # set (the session knows which set each output part came from); anything
    # nesting them stays passthrough
    grouping_fn_items: List[SelectItem] = []
    gf_names: set = set()
    for name, e in raw_items:
        has_gf = any(
            isinstance(nd, Func) and nd.name.lower() in ("grouping", "grouping_id")
            for nd in e.walk()
        )
        if not has_gf:
            continue
        if isinstance(e, Func) and e.name.lower() in ("grouping", "grouping_id"):
            grouping_fn_items.append(SelectItem(name, e))
            gf_names.add(name)
        else:
            raise Unsupported("grouping() nested in an expression")

    # split select items into group outputs vs aggregate outputs
    agg_items: List[SelectItem] = []
    select_order: List[str] = []
    group_names = {s.name for s in group_items}
    for name, e in raw_items:
        select_order.append(name)
        if name in gf_names:
            continue  # grouping()/grouping_id(): reconstructed per set
        if _contains_agg(e) or _contains_scalar_subq(e):
            # scalar subqueries in the select list (share-of-total:
            # ``count(*) / (SELECT count(*) FROM t)``) ride as aggregate
            # items — constant per group, folded by the session at plan
            # time (the pure-scalar item with no AggCall anywhere in the
            # query is rejected by the session: no state to cache)
            agg_items.append(SelectItem(name, e))
        else:
            if name in group_names:
                ge = next(s.expr for s in group_items if s.name == name)
                if ge != e:
                    # NAME collision only: the select item computes
                    # something ELSE than the grouped key (duckdb bound
                    # GROUP BY to the select alias; Spark resolves the
                    # REAL column and refuses with MISSING_AGGREGATION).
                    # Serving the key's values under this name would
                    # invent an answer — refuse (r16 leniency find).
                    raise Unsupported(
                        f"select item {name} shadows a grouped column"
                    )
                continue  # already a group output
            if e in grouped_exprs:
                # a SECOND alias of an already-named group output
                # (``SELECT k, k AS a … GROUP BY k``): no state column
                # carries this name — silently dropping it would lose an
                # output column
                raise Unsupported(f"duplicate alias {name} of a group key")
            raise Unsupported(f"non-aggregate select item {name} not in GROUP BY")
    having = node.get("having")
    having_expr = _expr(having) if having is not None else None
    if not agg_items and not (
        (having_expr is not None and _contains_agg(having_expr))
        or any(_contains_agg(o.expr) for o in order_by)
    ):
        # a group-by with no aggregate anywhere (DISTINCT-like) has no
        # partial state to cache; with an aggregate in HAVING or ORDER BY
        # a hidden select item carries the state
        raise Unsupported("no aggregate in select list")

    # ROLLUP / CUBE / GROUPING SETS: duckdb exposes group_sets as index
    # lists into group_expressions. A single all-indices set == plain
    # GROUP BY. grouping()/grouping_id() outputs are not reconstructible
    # from state → passthrough.
    raw_sets = node.get("group_sets") or []
    n_groups = len(group_items)
    grouping_sets: Tuple = ()
    if raw_sets and not (
        len(raw_sets) == 1 and sorted(raw_sets[0]) == list(range(n_groups))
    ):
        grouping_sets = tuple(tuple(sorted(t)) for t in raw_sets)

    for e in (
        [s.expr for s in group_items + agg_items]
        + [o.expr for o in order_by]
        + ([having_expr] if having_expr is not None else [])
    ):
        if _contains_window(e):
            raise Unsupported("window function in an aggregate query")
    _reject_volatile_items(
        [s.expr for s in group_items + agg_items]
        + [o.expr for o in order_by],
        "select/group/order items",
    )
    for e in (
        [s.expr for s in group_items]
        + [o.expr for o in order_by]
        + [js.on for js in join_steps if js.on is not None]
    ):
        if _contains_scalar_subq(e):
            # subqueries resolve in predicates/HAVING/select items only —
            # a group KEY changing with every inner refresh would churn a
            # cache entry per refresh
            raise Unsupported("scalar subquery outside WHERE/HAVING/SELECT")
    from .ir import InSubquery as _InSubquery

    for s in agg_items:
        if any(isinstance(n, _InSubquery) for n in s.expr.walk()):
            # IN produces a boolean filter, not a scalar value — only
            # meaningful in predicates
            raise Unsupported("IN subquery in the select list")

    # ORDER BY keys that are NOT output columns but contain an aggregate
    # after resolving select aliases (``SELECT k FROM t GROUP BY k ORDER
    # BY count(*) DESC``, ``ORDER BY n * 2`` where n aliases count(*)):
    # plan each as a hidden ``__qc_ord{i}`` item on the INNER aggregate
    # and wrap the query in a SubquerySpec that orders on the hidden
    # columns BEFORE projecting them away — the state entry carries the
    # sort aggregates, the output schema doesn't.
    alias_expr = {name: e for name, e in raw_items}
    out_name_set = set(select_order)
    item_expr_set = {s.expr for s in group_items} | {
        s.expr for s in agg_items
    }
    hidden_ord: List[SelectItem] = []
    outer_order: List[OrderItem] = []
    for o in order_by:
        e = o.expr
        if (
            (isinstance(e, Lit) and isinstance(e.value, int))
            or (isinstance(e, Col) and e.name in out_name_set)
            or e in item_expr_set
        ):
            outer_order.append(o)
            continue
        from .ir import transform as _ir_transform

        e2 = _ir_transform(
            e,
            lambda n: alias_expr.get(n.name, n) if isinstance(n, Col) else n,
        )
        if not _contains_agg(e2):
            # not computable from the aggregate's state — keep the
            # original expr; the session's order resolution decides
            # (output-expr match or Unsupported → passthrough)
            outer_order.append(o)
            continue
        hname = f"__qc_ord{len(hidden_ord)}"
        hidden_ord.append(SelectItem(hname, e2))
        outer_order.append(OrderItem(Col(hname), o.desc, o.nulls_first))

    if hidden_ord and (grouping_sets or grouping_fn_items):
        raise Unsupported("hidden sort aggregate with grouping sets")
    if offset is not None and hidden_ord:
        raise Unsupported("OFFSET with hidden sort keys")

    inner = AggSpec(
        table=table,
        tables=tuple(tables),
        join_steps=tuple(join_steps),
        predicate=predicate,
        group_by=tuple(group_items),
        aggregates=tuple(agg_items) + tuple(hidden_ord),
        select_order=tuple(select_order)
        + tuple(s.name for s in hidden_ord),
        order_by=() if hidden_ord else tuple(outer_order),
        limit=None if hidden_ord else limit,
        offset=offset,
        having=having_expr,
        grouping_sets=grouping_sets,
        grouping_fn_items=tuple(grouping_fn_items),
    )
    if not hidden_ord:
        return inner
    from .ir import SubquerySpec as _SubquerySpec

    return _SubquerySpec(
        inner=inner,
        items=tuple(SelectItem(n, Col(n)) for n in select_order),
        predicate=None,
        order_by=tuple(outer_order),
        limit=limit,
    )


def _inline_star_join_leaf(node: Dict[str, Any], ft0: Dict[str, Any]):
    """De-sugar a STAR-projection leaf at the head of a join spine:
    ``FROM (SELECT * FROM src [WHERE p]) [a] JOIN dim …`` ≡
    ``FROM src [a] JOIN dim … [WHERE p ∧ …]`` — the visible scope is
    identical (star exposes every source column, the alias carries over),
    and pulling ``p`` above the join commutes because every join here
    preserves the FACT side (p references only fact columns, which a
    LEFT/INNER/CROSS join passes through unchanged). The rewritten node
    then rides the plain star-join path. Returns None when inapplicable;
    same leniency guards as the sole-source star de-sugaring, extended to
    the spine's join conditions."""
    import copy as _copy

    spine: List[Dict[str, Any]] = []
    cur = ft0
    while isinstance(cur, dict) and cur.get("type") == "JOIN":
        spine.append(cur)
        cur = cur.get("left") or {}
    ft = cur
    if not isinstance(ft, dict) or ft.get("type") != "SUBQUERY":
        return None
    if ft.get("column_name_alias") or ft.get("sample"):
        return None
    inner = (ft.get("subquery") or {}).get("node") or {}
    if inner.get("type") != "SELECT_NODE":
        return None
    if inner.get("where_clause") is not None:
        # Pulling the inner WHERE above the spine is only sound when the
        # subquery is the PRESERVED side of every spine join: a
        # LEFT/INNER/CROSS join passes its left (fact) rows through
        # unchanged, so filtering before or after commutes. Under a RIGHT
        # spine the subquery is the NON-preserved side — the original
        # query keeps dim rows with no passing match (NULL-extended),
        # while the hoisted filter above the swapped LEFT join drops
        # them (wrong answer class, r15 advice). FULL/NATURAL would be
        # refused downstream, but refuse the rewrite here so semantics
        # never depend on a later guard. Pure star de-sugaring (no inner
        # WHERE) stays allowed: the downstream RIGHT→LEFT swap / NATURAL
        # refusal handles those spines correctly.
        for j in spine:
            if (
                j.get("join_type") not in ("INNER", "LEFT", "CROSS")
                or j.get("ref_type") == "NATURAL"
            ):
                return None
    if (
        inner.get("group_expressions")
        or inner.get("group_sets")
        or inner.get("having") is not None
        or inner.get("qualify") is not None
        or inner.get("modifiers")
        or inner.get("cte_map", {}).get("map")
        or inner.get("sample")
    ):
        return None
    src = inner.get("from_table") or {}
    if src.get("type") != "BASE_TABLE":
        return None
    sel = inner.get("select_list", [])
    if not (
        len(sel) == 1
        and sel[0].get("class") == "STAR"
        and not sel[0].get("expr")
        and not sel[0].get("exclude_list")
        and not sel[0].get("replace_list")
    ):
        return None
    if ft.get("alias") and src.get("alias"):
        return None  # re-aliasing would break inner src-qualified refs

    def _multipart(x) -> bool:
        if isinstance(x, dict):
            if (
                x.get("class") == "COLUMN_REF"
                and len(x.get("column_names") or []) >= 2
            ):
                return True
            return any(_multipart(v) for v in x.values())
        if isinstance(x, list):
            return any(_multipart(v) for v in x)
        return False

    if ft.get("alias") and _multipart(inner.get("where_clause")):
        return None
    if not ft.get("alias"):
        exposed = {
            x.lower()
            for x in (
                src.get("alias"),
                src.get("table_name"),
                _base_table_name(src),
            )
            if x
        }

        def _hits(x) -> bool:
            if isinstance(x, dict):
                names = x.get("column_names") or []
                if (
                    x.get("class") == "COLUMN_REF"
                    and len(names) >= 2
                    and names[0].lower() in exposed
                ):
                    return True
                return any(_hits(v) for v in x.values())
            if isinstance(x, list):
                return any(_hits(v) for v in x)
            return False

        scan = [
            node.get(f)
            for f in (
                "select_list",
                "where_clause",
                "group_expressions",
                "having",
                "qualify",
                "modifiers",
            )
        ] + [j.get("condition") for j in spine]
        if any(_hits(x) for x in scan):
            return None  # originally-invalid qualifier would start resolving

    new_leaf = _copy.deepcopy(src)
    if ft.get("alias"):
        new_leaf["alias"] = ft["alias"]
    rebuilt: Dict[str, Any] = new_leaf
    for j in reversed(spine):
        j2 = _copy.deepcopy(j)
        j2["left"] = rebuilt
        rebuilt = j2
    new_node = dict(node)
    new_node["from_table"] = rebuilt
    iw = inner.get("where_clause")
    if iw is not None:
        ow = new_node.get("where_clause")
        new_node["where_clause"] = (
            _copy.deepcopy(iw)
            if ow is None
            else {
                "class": "CONJUNCTION",
                "type": "CONJUNCTION_AND",
                "alias": "",
                "children": [_copy.deepcopy(iw), ow],
            }
        )
    return new_node


def _inline_derived_projection(node: Dict[str, Any], ft: Dict[str, Any]):
    """Inline ``FROM (SELECT <projection> FROM src [WHERE p]) t`` into the
    outer query (classic projection push-up): outer references to the
    derived outputs substitute the inner item expressions, the inner WHERE
    ANDs into the outer's, and the source becomes ``src`` directly — the
    EXISTING single-table cached pipeline then plans the rewritten query
    (the reference's bottom-up rule gets this for free by matching the
    Aggregate wherever it sits, ``src/aggregate.rs:74-76``).

    Returns the rewritten outer node, or None when the inner is not a
    plain projection (aggregates/windows/DISTINCT/modifiers keep today's
    derived-aggregate path). Raises Unsupported (→ passthrough) for ref
    shapes the substitution can't prove sound: struct paths / foreign
    qualifiers above the derived table (the r13 conservative rule) and
    nested subqueries in the outer (their inner-first scope would capture
    substituted names)."""
    import copy as _copy

    if ft.get("column_name_alias") or ft.get("sample"):
        return None
    inner = (ft.get("subquery") or {}).get("node") or {}
    if inner.get("type") != "SELECT_NODE":
        return None
    if (
        inner.get("group_expressions")
        or inner.get("group_sets")
        or inner.get("having") is not None
        or inner.get("qualify") is not None
        or inner.get("modifiers")
        or inner.get("cte_map", {}).get("map")
        or inner.get("sample")
    ):
        return None
    src = inner.get("from_table") or {}
    if src.get("type") not in ("BASE_TABLE", "SUBQUERY"):
        return None  # joins/pivots below: keep the derived-aggregate path

    def has_cls(x, classes) -> bool:
        if isinstance(x, dict):
            if x.get("class") in classes:
                return True
            return any(has_cls(v, classes) for v in x.values())
        if isinstance(x, list):
            return any(has_cls(v, classes) for v in x)
        return False

    sel = inner.get("select_list", [])
    star = (
        len(sel) == 1
        and sel[0].get("class") == "STAR"
        and not sel[0].get("expr")
        and not sel[0].get("exclude_list")
        and not sel[0].get("replace_list")
    )
    if star and not (ft.get("alias") and src.get("alias")):
        # pure de-sugaring: ``FROM (SELECT * FROM src [WHERE p]) [a]`` ≡
        # ``FROM src [a] [WHERE p]`` — the visible scope is IDENTICAL
        # (star exposes every source column, the alias carries over), so
        # NO reference rewriting is needed anywhere, outer subqueries and
        # struct paths included. Refused only when BOTH the wrapper and
        # the source carry aliases (the source's alias is hidden outside
        # the subquery but referenced by the inner WHERE — re-aliasing
        # would break it).
        import copy as _copy

        def _has_multipart(x) -> bool:
            if isinstance(x, dict):
                if (
                    x.get("class") == "COLUMN_REF"
                    and len(x.get("column_names") or []) >= 2
                ):
                    return True
                return any(_has_multipart(v) for v in x.values())
            if isinstance(x, list):
                return any(_has_multipart(v) for v in x)
            return False

        if ft.get("alias") and _has_multipart(inner.get("where_clause")):
            # re-aliasing the source would break inner refs qualified by
            # the SOURCE's name (`WHERE src.x ...`); ambiguous with struct
            # paths at parse time — keep the old derived path
            return None
        if not ft.get("alias"):
            # the rewrite exposes the SOURCE's name(s) in the outer scope;
            # an outer ref like `src.x` was INVALID above the anonymous
            # wrapper and must not start resolving (the r13 invented-
            # semantics class) — refuse when any outer multi-part ref's
            # head collides with an exposed name
            exposed = {
                x.lower()
                for x in (
                    src.get("alias"),
                    src.get("table_name"),
                    _base_table_name(src)
                    if src.get("type") == "BASE_TABLE"
                    else None,
                )
                if x
            }

            def _head_hits(x) -> bool:
                if isinstance(x, dict):
                    names = x.get("column_names") or []
                    if (
                        x.get("class") == "COLUMN_REF"
                        and len(names) >= 2
                        and names[0].lower() in exposed
                    ):
                        return True
                    return any(_head_hits(v) for v in x.values())
                if isinstance(x, list):
                    return any(_head_hits(v) for v in x)
                return False

            for fld in (
                "select_list",
                "where_clause",
                "group_expressions",
                "having",
                "qualify",
                "modifiers",
            ):
                if _head_hits(node.get(fld)):
                    return None
        new_src = _copy.deepcopy(src)
        if ft.get("alias"):
            new_src["alias"] = ft["alias"]
        new_node = dict(node)
        new_node["from_table"] = new_src
        iw = inner.get("where_clause")
        if iw is not None:
            ow = new_node.get("where_clause")
            new_node["where_clause"] = (
                _copy.deepcopy(iw)
                if ow is None
                else {
                    "class": "CONJUNCTION",
                    "type": "CONJUNCTION_AND",
                    "alias": "",
                    "children": [_copy.deepcopy(iw), ow],
                }
            )
        return new_node
    mapping: Optional[Dict[str, Dict[str, Any]]] = None
    if not star:
        mapping = {}
        for item in sel:
            if item.get("class") == "STAR":
                return None  # mixed star + items
            if has_cls(item, {"WINDOW", "SUBQUERY"}) or _json_has_agg(item):
                return None  # not a pure projection
            alias = item.get("alias") or ""
            if not alias and item.get("class") == "COLUMN_REF":
                alias = (item.get("column_names") or [""])[-1]
            if not alias:
                return None  # unaliased expression: output name unknowable
            if alias.lower() in mapping:
                raise Unsupported("duplicate derived output name")
            mapping[alias.lower()] = item

    dalias = (ft.get("alias") or "").lower()
    outer_fields = (
        "select_list",
        "where_clause",
        "group_expressions",
        "having",
        "qualify",
        "modifiers",
    )
    for fld in outer_fields:
        if has_cls(node.get(fld), {"SUBQUERY"}):
            raise Unsupported(
                "subquery above an inlined derived projection"
            )

    def subst(x):
        if isinstance(x, dict):
            if x.get("class") == "COLUMN_REF":
                names = list(x.get("column_names") or [])
                if len(names) >= 2 and names[0].lower() == dalias and dalias:
                    names = names[1:]
                if len(names) >= 2:
                    # struct path / foreign qualifier above the derived
                    # table: plain Spark rejects the qualifier spelling —
                    # stay conservative (r13 rule) and pass through
                    raise Unsupported(
                        "qualified reference above an inlined derived "
                        "projection"
                    )
                nm = names[0].lower() if names else ""
                if mapping is None:
                    out = dict(x)
                    out["column_names"] = names
                    return out
                if nm not in mapping:
                    raise Unsupported(
                        f"unknown derived output {names[0] if names else ''}"
                    )
                rep = _copy.deepcopy(mapping[nm])
                # keep the REFERENCED name as the output name: `SELECT g
                # FROM (SELECT a AS g ...)` must surface column `g`, not
                # the substituted expression's natural name
                rep["alias"] = x.get("alias") or names[0]
                return rep
            return {k: subst(v) for k, v in x.items()}
        if isinstance(x, list):
            return [subst(v) for v in x]
        return x

    new_node = dict(node)
    for fld in outer_fields:
        if node.get(fld) is not None:
            new_node[fld] = subst(_copy.deepcopy(node[fld]))
    iw = inner.get("where_clause")
    if iw is not None:
        ow = new_node.get("where_clause")
        new_node["where_clause"] = (
            _copy.deepcopy(iw)
            if ow is None
            else {
                "class": "CONJUNCTION",
                "type": "CONJUNCTION_AND",
                "alias": "",
                "children": [_copy.deepcopy(iw), ow],
            }
        )
    new_node["from_table"] = _copy.deepcopy(src)
    return new_node


def _json_has_agg(item) -> bool:
    """Aggregate-call detector over a raw duckdb expression JSON: lower a
    COPY and walk the IR (the lowering is scope-free for this purpose —
    any failure counts as 'has an aggregate' to stay conservative)."""
    try:
        e = _expr(item)
    except Exception:
        return True
    return _contains_agg(e) or _contains_window(e)


def _lower_subquery(node: Dict[str, Any]):
    """Lower ``SELECT ... FROM (<inner aggregate>) x [WHERE] [ORDER] [LIMIT]``.

    The inner SELECT must lower to a plain :class:`AggSpec` (that is what
    gets cached); the outer shape may project/compute over the inner's
    output columns, filter them, order, and limit — it runs post-finalize
    over O(state) rows, so nothing here affects cached state. Outer
    aggregates (re-aggregation of an aggregate) and outer GROUP BY stay
    passthrough.
    """
    from .ir import AggSpec, JoinStep, SubquerySpec

    from .ir import SubquerySpec as _SubquerySpec

    ft = node["from_table"]
    join_steps: List[JoinStep] = []
    if ft.get("type") == "JOIN":
        # dims joined onto the derived result: collect the left-deep spine
        # (mirrors the star-join walk in _lower_select); the session joins
        # them onto the finalized O(state) rows at read time
        spine: List[Dict[str, Any]] = []
        cur = ft
        while cur.get("type") == "JOIN":
            spine.append(cur)
            cur = cur.get("left") or {}
        ft = cur  # the SUBQUERY leaf
        dim_tables: List[str] = []
        for j in reversed(spine):
            jt = j.get("join_type")
            if jt not in ("INNER", "LEFT", "CROSS"):
                raise Unsupported(f"join type {jt} above a derived table")
            right = j.get("right") or {}
            if right.get("type") != "BASE_TABLE":
                raise Unsupported("non-left-deep join above a derived table")
            if right.get("sample"):
                raise Unsupported("TABLESAMPLE")
            cond = j.get("condition")
            using = ()
            if j.get("ref_type") == "NATURAL":
                raise Unsupported("NATURAL join above a derived table")
            if cond is None and jt != "CROSS":
                using = tuple(
                    c.lower() for c in (j.get("using_columns") or ())
                )
                if not using:
                    raise Unsupported("USING/NATURAL join above a derived table")
            t = _base_table_name(right)
            if t in dim_tables:
                raise Unsupported("duplicate dim table above a derived table")
            join_steps.append(
                JoinStep(
                    t,
                    _expr(cond) if cond is not None else None,
                    "left" if jt == "LEFT" else "inner",
                    using=using,
                )
            )
    if ft.get("column_name_alias"):
        raise Unsupported("derived-table column aliases")
    if ft.get("sample"):
        raise Unsupported("TABLESAMPLE")
    inner = _lower_select(ft["subquery"]["node"])
    if _spec_has_scalar_subq(inner) and not _derived_scalar_fold_ok(inner):
        # the session resolves scalar subqueries at the top level, plus
        # (r16) STATIC scalars inside a cached derived body's
        # WHERE/HAVING — those fold to fingerprint-embedded literals
        raise Unsupported("scalar subquery inside a derived table")
    if not isinstance(inner, (AggSpec, _SubquerySpec)):
        # FilterSpec inner stays passthrough: its row-set state is the
        # result itself, so an outer shape gains nothing from this path
        raise Unsupported("derived table is not a plain aggregate")

    raw_sets = node.get("group_sets") or []
    n_outer_groups = len(node.get("group_expressions") or [])
    if raw_sets and not (
        len(raw_sets) == 1 and sorted(raw_sets[0]) == list(range(n_outer_groups))
    ):
        raise Unsupported("grouping sets above a derived table")

    order_by: List[OrderItem] = []
    limit: Optional[int] = None
    for mod in node.get("modifiers", []):
        mt = mod.get("type")
        if mt == "ORDER_MODIFIER":
            for o in mod.get("orders", []):
                desc = o.get("type") == "DESCENDING"
                nf = None
                no = o.get("null_order")
                if no == "NULLS_FIRST":
                    nf = True
                elif no == "NULLS_LAST":
                    nf = False
                order_by.append(OrderItem(_expr(o["expression"]), desc, nf))
        elif mt == "LIMIT_MODIFIER":
            lim = mod.get("limit")
            if lim is not None:
                lv = _expr(lim)
                if not isinstance(lv, Lit) or not isinstance(lv.value, int):
                    raise Unsupported("non-literal limit")
                limit = lv.value
            if mod.get("offset") is not None:
                raise Unsupported("offset")
        else:
            raise Unsupported(f"modifier {mt} above a derived table")

    where = node.get("where_clause")
    predicate = _expr(where) if where is not None else None

    star = False
    raw_items: List[Tuple[str, Expr]] = []
    sel_list = node.get("select_list", [])
    if (
        len(sel_list) == 1
        and sel_list[0].get("class") == "STAR"
        and not sel_list[0].get("expr")
    ):
        if sel_list[0].get("exclude_list") or sel_list[0].get("replace_list"):
            raise Unsupported("star with exclude/replace")
        star = True
    else:
        for i, sel in enumerate(sel_list):
            e = _expr(sel)
            alias = sel.get("alias") or ""
            if not alias:
                alias = (
                    e.name.rsplit(".", 1)[-1]
                    if isinstance(e, Col)
                    else f"col{i}"
                )
            if alias.startswith("__qc"):
                raise Unsupported(f"alias {alias} uses reserved __qc prefix")
            raw_items.append((alias, e))
        if not raw_items:
            raise Unsupported("empty select list")

    for e in (
        [e for _n, e in raw_items]
        + [o.expr for o in order_by]
        + ([predicate] if predicate is not None else [])
        + [js.on for js in join_steps if js.on is not None]
    ):
        if _contains_scalar_subq(e):
            # the session resolves scalar subqueries only at the top level
            raise Unsupported("scalar subquery above a derived table")

    exposed = set(_branch_names(inner))

    def _check_inner_refs(e: Expr, what: str) -> None:
        if join_steps:
            # dim-table columns are resolvable only against live schemas at
            # plan time; Spark's analyzer rejects genuine unknowns there
            return
        for nd in e.walk():
            if isinstance(nd, Col) and nd.name not in exposed:
                raise Unsupported(
                    f"outer {what} {nd.name} not produced by the derived table"
                )

    for js in join_steps:
        if js.on is not None:
            if _contains_agg(js.on):
                raise Unsupported("aggregate in a join condition")
            if _contains_window(js.on):
                raise Unsupported("window function in a join condition")

    if predicate is not None:
        # outer WHERE applies to inner output rows (before any outer agg)
        if _contains_agg(predicate):
            raise Unsupported("aggregate in WHERE above a derived table")
        if _contains_window(predicate):
            raise Unsupported("window function in WHERE above a derived table")
        _check_inner_refs(predicate, "column")

    has_outer_agg = any(_contains_agg(e) for _, e in raw_items) or bool(
        node.get("group_expressions")
    )
    if node.get("having") and not has_outer_agg:
        raise Unsupported("HAVING without aggregates above a derived table")

    qual_node = node.get("qualify")
    if qual_node is not None and has_outer_agg:
        raise Unsupported("QUALIFY with an outer aggregation")

    if not has_outer_agg:
        for _n, e in raw_items:
            # window functions ARE allowed here: they evaluate post-finalize
            # over the derived table's O(state) finalized rows (the
            # reference's Window-above-rewritten-Aggregate shape)
            _check_inner_refs(e, "column")
        inner_names = set(_branch_names(inner))
        alias_names = (
            set() if star else {n for n, _ in raw_items} - inner_names
        )
        used_alias = used_hidden = False
        for o in order_by:
            if _contains_agg(o.expr):
                raise Unsupported("aggregate in ORDER BY above a derived table")
            if _contains_window(o.expr):
                raise Unsupported(
                    "window function in ORDER BY above a derived table"
                    " (alias it in the select list instead)"
                )
            # a bare Col naming a SELECT-item alias (e.g. the window's
            # alias: ORDER BY rnk) resolves post-projection; inner-column
            # refs resolve pre-projection (the hidden-sort-keys path). The
            # two frames are different, so mixing an alias-only key with a
            # hidden inner-only key in one ORDER BY stays passthrough.
            if isinstance(o.expr, Col) and o.expr.name in alias_names:
                used_alias = True
                continue
            if isinstance(o.expr, Col) and o.expr.name in inner_names:
                item_names_ = {n for n, _ in raw_items}
                if o.expr.name not in item_names_:
                    used_hidden = True
                continue
            _check_inner_refs(o.expr, "column")
        if used_alias and used_hidden:
            raise Unsupported(
                "ORDER BY mixes a select-alias key with a hidden inner key"
            )
        qualify_expr = None
        if qual_node is not None:
            # QUALIFY (DuckDB extension; Spark has none — capability
            # beyond passthrough): filters AFTER window evaluation. It is
            # compiled over the post-projection frame, so every column it
            # references — incl. inside its window specs — must be an
            # item alias (or an inner output under SELECT *).
            qualify_expr = _expr(qual_node)
            if _contains_agg(qualify_expr):
                raise Unsupported("aggregate in QUALIFY")
            if _contains_scalar_subq(qualify_expr):
                raise Unsupported("subquery in QUALIFY")
            allowed = (
                set(_branch_names(inner))
                if star
                else {n for n, _ in raw_items}
            )
            for nd in qualify_expr.walk():
                if isinstance(nd, Col) and nd.name not in allowed:
                    raise Unsupported(
                        f"QUALIFY references {nd.name}, not a select output"
                    )
            # hidden sort keys order the PRE-projection frame; the qualify
            # filter runs post-projection — refuse the combination rather
            # than risk a sort/filter reorder
            item_names = allowed
            for o in order_by:
                if isinstance(o.expr, Col) and o.expr.name not in item_names:
                    raise Unsupported("QUALIFY with hidden sort keys")
        return SubquerySpec(
            inner=inner,
            items=None if star else tuple(SelectItem(n, e) for n, e in raw_items),
            predicate=predicate,
            order_by=tuple(order_by),
            limit=limit,
            join_steps=tuple(join_steps),
            qualify=qualify_expr,
        )

    # outer AGGREGATION over the derived table (the two-level rollup):
    # resolve groups the same way the main lowering does, split items into
    # group vs aggregate outputs. All of this evaluates as PLAIN Spark ops
    # over the finalized inner result — only the inner aggregate is cached.
    if star:
        raise Unsupported("SELECT * with GROUP BY above a derived table")
    group_items: List[SelectItem] = []
    grouped_exprs: List[Expr] = []
    for ge in node.get("group_expressions", []):
        g = _expr(ge)
        if isinstance(g, Lit) and isinstance(g.value, int):
            idx = g.value - 1
            if not 0 <= idx < len(raw_items):
                raise Unsupported("group-by position out of range")
            name, e = raw_items[idx]
            group_items.append(SelectItem(name, e))
            grouped_exprs.append(e)
            continue
        if isinstance(g, Col):
            for name, e in raw_items:
                if name == g.name and not isinstance(e, Col):
                    group_items.append(SelectItem(name, e))
                    grouped_exprs.append(e)
                    break
            else:
                group_items.append(SelectItem(g.name, g))
                grouped_exprs.append(g)
            continue
        for name, e in raw_items:
            if e == g:
                group_items.append(SelectItem(name, e))
                break
        else:
            group_items.append(SelectItem(f"g{len(group_items)}", g))
        grouped_exprs.append(g)

    agg_items: List[SelectItem] = []
    select_order: List[str] = []
    group_names = {s.name for s in group_items}
    for name, e in raw_items:
        select_order.append(name)
        if _contains_agg(e):
            agg_items.append(SelectItem(name, e))
        elif e in grouped_exprs or name in group_names:
            continue
        else:
            raise Unsupported(
                f"non-aggregate outer select item {name} not in GROUP BY"
            )
    if not agg_items:
        raise Unsupported("GROUP BY above a derived table without aggregates")

    having = node.get("having")
    having_expr = _expr(having) if having is not None else None

    for it in group_items + agg_items:
        if _contains_window(it.expr):
            raise Unsupported("window function above an outer aggregation")
        _check_inner_refs(it.expr, "column")
    if having_expr is not None:
        if _contains_window(having_expr):
            raise Unsupported("window function in HAVING above a derived table")
        if _contains_scalar_subq(having_expr):
            raise Unsupported("scalar subquery above a derived table")
        _check_inner_refs(having_expr, "column")
    outer_names = set(select_order) | group_names
    for o in order_by:
        # post-aggregation ORDER BY may reference outer outputs by name or
        # re-state an aggregate/group expression verbatim
        if _contains_agg(o.expr):
            _check_inner_refs(o.expr, "column")
        else:
            for nd in o.expr.walk():
                if isinstance(nd, Col) and nd.name not in outer_names:
                    raise Unsupported(
                        f"outer ORDER BY {nd.name} not an outer output"
                    )

    return SubquerySpec(
        inner=inner,
        items=None,
        predicate=predicate,
        order_by=tuple(order_by),
        limit=limit,
        group_by=tuple(group_items),
        aggregates=tuple(agg_items),
        having=having_expr,
        select_order=tuple(select_order),
        join_steps=tuple(join_steps),
    )


def _subst_cte_from(n: Dict[str, Any], defs: Dict[str, Dict[str, Any]]):
    """If ``n``'s FROM references a known CTE — bare, or as the HEAD of a
    left-deep join spine (``FROM rollup JOIN dim ON ...``) — inline it as
    a derived table. CTE references anywhere else in a join tree are left
    alone (→ Unsupported downstream → passthrough, which Spark executes
    natively)."""

    def _as_subquery(ft: Dict[str, Any]) -> Dict[str, Any]:
        return {
            "type": "SUBQUERY",
            # keep a branch-side alias (``FROM base b``) so alias-qualified
            # refs like ``b.k`` still resolve under the new scope push
            "alias": ft.get("alias") or ft["table_name"],
            "column_name_alias": [],
            "subquery": {"node": defs[ft["table_name"]]},
        }

    ft = n.get("from_table") or {}
    if ft.get("type") == "BASE_TABLE" and ft.get("table_name") in defs:
        n = dict(n)
        n["from_table"] = _as_subquery(ft)
        return n
    if ft.get("type") == "JOIN":
        leaf = ft
        spine: List[Dict[str, Any]] = []
        while isinstance(leaf, dict) and leaf.get("type") == "JOIN":
            spine.append(leaf)
            leaf = leaf.get("left") or {}
        if leaf.get("type") == "BASE_TABLE" and leaf.get("table_name") in defs:
            # rebuild the spine with the head swapped for the derived table
            new_left: Dict[str, Any] = _as_subquery(leaf)
            for j in reversed(spine):
                j2 = dict(j)
                j2["left"] = new_left
                new_left = j2
            n = dict(n)
            n["from_table"] = new_left
    return n


def _lower_cte(node: Dict[str, Any], ctes: List[Dict[str, Any]]):
    """Lower ``WITH a AS (<aggregate>)[, b AS (SELECT ... FROM a) ...]
    SELECT ... FROM <last>`` by inlining each CTE reference as a derived
    table — the reference's bottom-up rule sees CTE bodies the same way it
    sees subqueries (``src/aggregate.rs:74-76``). Chains lower to NESTED
    SubquerySpecs: the innermost aggregate is the one cached entry; every
    level above it replays as plain ops over O(state) rows."""
    defs: Dict[str, Dict[str, Any]] = {}
    for cte in ctes:
        v = cte["value"]
        if v.get("aliases"):
            raise Unsupported("CTE column aliases")
        # bodies may reference EARLIER ctes (duckdb enforces the ordering)
        defs[cte["key"]] = _subst_cte_from(v["query"]["node"], defs)
    synth = dict(node)
    synth["cte_map"] = {"map": []}
    synth = _subst_cte_from(synth, defs)
    sft = synth.get("from_table") or {}
    if sft.get("type") == "SUBQUERY":
        return _lower_select(synth)
    if sft.get("type") == "JOIN":
        leaf = sft
        while isinstance(leaf, dict) and leaf.get("type") == "JOIN":
            leaf = leaf.get("left") or {}
        if leaf.get("type") == "SUBQUERY":
            return _lower_select(synth)
    raise Unsupported("CTE not the head of the FROM clause")


def _lower_setop(node: Dict[str, Any], cte_defs=None):
    """Lower ``a UNION [ALL] b [UNION [ALL] c ...] [ORDER BY] [LIMIT]``
    (n-ary) or the binary ``a EXCEPT|INTERSECT [ALL] b`` into a
    :class:`UnionSpec` of independently-cacheable branches.

    Each leg keeps its own cache entry; the set operation runs over
    finalized results. There is nothing incremental to exploit at the SET
    level (EXCEPT/INTERSECT need both sides' full finalized sets) — the
    win is that each side's AGGREGATION over the growing fact table is
    served from its state entry instead of a rescan."""
    from .ir import UnionSpec

    setop = node.get("setop_type")
    if setop not in ("UNION", "EXCEPT", "INTERSECT"):
        raise Unsupported(f"set operation {setop}")
    ctes = node.get("cte_map", {}).get("map")
    if ctes:
        # WITH over a set operation (r13): inline each CTE reference into
        # every branch as a derived table — same treatment `_lower_cte`
        # gives a plain SELECT (bodies may reference EARLIER ctes)
        defs: Dict[str, Dict[str, Any]] = dict(cte_defs or {})
        for cte in ctes:
            v = cte["value"]
            if v.get("aliases"):
                raise Unsupported("CTE column aliases")
            defs[cte["key"]] = _subst_cte_from(v["query"]["node"], defs)
        cte_defs = defs
    want_all = bool(node.get("setop_all"))

    branches: List[object] = []

    def lower_branch(n: Dict[str, Any]) -> None:
        if n.get("type") == "SET_OPERATION_NODE":
            # nested set-op leg (r13): chained `a EXCEPT b EXCEPT c`
            # arrives left-nested, mixed UNION/INTERSECT trees too — lower
            # recursively to a nested UnionSpec branch; the planner's
            # assembly recurses the same way. SQL evaluates set ops
            # left-associatively, which the parse tree already encodes.
            if n.get("modifiers"):
                raise Unsupported("modifiers on a nested set operation")
            branches.append(_lower_setop(n, cte_defs))
            return
        own = (n.get("cte_map", {}) or {}).get("map")
        if cte_defs and own:
            # a branch carrying its own nested WITH must still see the
            # OUTER defs — skipping substitution here let an outer-CTE
            # reference resolve against the catalog (silent wrong answer
            # when a real table shares the CTE name). Branch-local names
            # shadow outer ones; branch bodies may reference outer ctes.
            defs2 = dict(cte_defs)
            for cte in own:
                v = cte["value"]
                if v.get("aliases"):
                    raise Unsupported("CTE column aliases")
                defs2[cte["key"]] = _subst_cte_from(v["query"]["node"], defs2)
            n = dict(n)
            n["cte_map"] = {"map": []}
            n = _subst_cte_from(n, defs2)
        elif cte_defs:
            n = _subst_cte_from(n, cte_defs)
        b = _lower_select(n)
        if _spec_has_scalar_subq(b):
            # the session resolves scalar subqueries only at the top level
            raise Unsupported("scalar subquery in a set-operation branch")
        branches.append(b)

    def flat(n: Dict[str, Any]) -> None:
        if (
            n.get("type") == "SET_OPERATION_NODE"
            and n.get("setop_type") == "UNION"
            and bool(n.get("setop_all")) == want_all
            and not n.get("modifiers")
        ):
            flat(n["left"])
            flat(n["right"])
            return
        lower_branch(n)

    if setop == "UNION":
        flat(node["left"])
        flat(node["right"])
    else:
        # binary, not flattened: a chained `a EXCEPT b EXCEPT c` arrives
        # left-nested, its left child is itself a set-op node — refused
        # explicitly in lower_branch above → passthrough (exact either way)
        lower_branch(node["left"])
        lower_branch(node["right"])

    first = branches[0]
    names = _branch_names(first)
    for b in branches[1:]:
        bn = _branch_names(b)
        if len(bn) != len(names):
            raise Unsupported("UNION branch arity mismatch")

    order_by: List[OrderItem] = []
    limit: Optional[int] = None
    offset: Optional[int] = None
    for mod in node.get("modifiers", []):
        mt = mod.get("type")
        if mt == "ORDER_MODIFIER":
            for o in mod.get("orders", []):
                desc = o.get("type") == "DESCENDING"
                nf = None
                no = o.get("null_order")
                if no == "NULLS_FIRST":
                    nf = True
                elif no == "NULLS_LAST":
                    nf = False
                oj = o["expression"]
                if (
                    oj.get("class") == "COLUMN_REF"
                    and len(oj.get("column_names", [])) >= 2
                ):
                    # set-op outputs are unqualified; a qualified ref here
                    # would silently drop its qualifier (empty scope) and
                    # accept SQL plain Spark rejects
                    raise Unsupported("union ORDER BY must be an output column")
                e = _expr(oj)
                if isinstance(e, Lit) and isinstance(e.value, int):
                    # UNION ORDER BY is positional against the output
                    if not 1 <= e.value <= len(names):
                        raise Unsupported("union order position out of range")
                    e = Col(names[e.value - 1])
                elif not (isinstance(e, Col) and e.name in names):
                    raise Unsupported("union ORDER BY must be an output column")
                order_by.append(OrderItem(e, desc, nf))
        elif mt == "LIMIT_MODIFIER":
            lim = mod.get("limit")
            if lim is not None:
                lv = _expr(lim)
                if not isinstance(lv, Lit) or not isinstance(lv.value, int):
                    raise Unsupported("non-literal limit")
                limit = lv.value
            if mod.get("offset") is not None:
                ov = _expr(mod["offset"])
                if not isinstance(ov, Lit) or not isinstance(ov.value, int):
                    raise Unsupported("non-literal offset")
                if not _df_offset_available():
                    raise Unsupported(
                        "OFFSET needs DataFrame.offset (pyspark>=3.5)"
                    )
                offset = ov.value
        else:
            raise Unsupported(f"modifier {mt} over a set operation")

    return UnionSpec(
        branches=tuple(branches),
        all=want_all,
        order_by=tuple(order_by),
        limit=limit,
        op=setop.lower(),
        offset=offset,
    )


def _branch_names(spec) -> List[str]:
    """Output column names of a lowered branch, in output order."""
    from .ir import AggSpec, FilterSpec, SubquerySpec, UnionSpec

    if isinstance(spec, UnionSpec):
        # nested set operation: positional — first leaf names the output
        return _branch_names(spec.branches[0])
    if isinstance(spec, AggSpec):
        return list(spec.select_order)
    if isinstance(spec, SubquerySpec):
        if spec.aggregates:
            return list(spec.select_order)
        if spec.items is not None:
            return [i.name for i in spec.items]
        return _branch_names(spec.inner)  # SELECT *: recurse (inner may nest)
    if isinstance(spec, FilterSpec):
        if spec.items is None:
            raise Unsupported("SELECT * branch in a UNION")
        return [i.name for i in spec.items]
    raise Unsupported("unsupported set-operation branch")
