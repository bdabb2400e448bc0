"""CAST(x AS JSON) — the reference's canonical JSON writer
(JsonOperators casts + JsonUtil.JsonGeneratorWriter, presto-main
com/facebook/presto/util/JsonUtil.java) re-expressed as Catalyst
expression generation at translate time.

Spark's native ``to_json`` already matches the reference's scalar
canonical form exactly (probed): doubles/reals via Java
Double.toString (``1.0E308``, ``1.0E-323``), NaN/Infinity as QUOTED
strings, decimals at full declared scale, dates quoted ISO, strings
escaped, nulls as ``null``. What Spark does differently — and what
this module generates around — is structure:

 - Presto renders a ROW as a JSON ARRAY of its fields
   (TestRowOperators.java:159 ``CAST(ROW(1, 2) AS JSON)`` = [1,2]);
   Spark's to_json renders a struct as an object.
 - Presto sorts map keys by their SERIALIZED text
   (Jackson ORDER_MAP_ENTRIES_BY_KEYS — TestMapOperators.java:158
   keys [7,5,3,1] render {"1":2,"3":4,"5":6,"7":8}, and real keys
   sort "1.0E10" < "3.14" as STRINGS); Spark keeps map order.
 - JSON-typed values embed RAW (TestRowOperators.java:131); Spark
   would quote the JSON text as a string.
 - a NULL at the top level is SQL NULL, while a nested null renders
   as the text ``null`` (TestArrayOperators.java:189 vs :191).

The operand's SHAPE (array/map/row/json/scalar) is derived lexically
from the Presto expression text — constructors, typed CASTs, typed
literals — before the engine's container rewrites run; scalar kinds
all render identically through the ``to_json(array(x))``
bracket-strip trick, so the derivation only needs to be exact about
structure. Underivable operands decline (no rewrite).

Every reader here is masked.py's: an operand's extent around `=`,
`||` or a comparison is masked.operand_back / operand_fwd's (names,
calls, constructors, subscripts and typed literals scan untyped), a
constructor's head and parts are masked.ctor_at's, a CAST's target is
masked.split_cast's, and a numeric leaf is masked.literal_span's.
"""

from __future__ import annotations

import re

from presto_0_235_spark.sql.masked import (
    STR_PH, angle_close, balanced, ctor_at, decimal_of, literal_span,
    operand_back, operand_fwd, skip_signs, split_cast, split_top,
    stash_lit, unary_start)

# ---------------------------------------------------------------------------
# type trees: 'json' | 'scalar' | 'unknown'
#             | ('array', T) | ('map', K, V) | ('row', [T, ...])
# ---------------------------------------------------------------------------

_JSON_LOWERED = re.compile(
    r"^to_json\s*\(\s*(?:try_)?parse_json\s*\(", re.IGNORECASE)
# a dotted numeric literal masked.literal does not read (.5, 5., .5e3):
# DECIMAL without an exponent, DOUBLE with one
_DOTTED_NUM = re.compile(r"[+-]?(?:\d+\.\d*|\.\d+)([eE][+-]?\d+)?")
_TYPED_SCALAR_LIT = re.compile(
    r"^(?:DATE|TIME|TIMESTAMP)\s*\x00s\d+\x00$", re.IGNORECASE)

_SCALAR_TYPES = frozenset((
    "TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT", "DOUBLE",
    "REAL", "FLOAT", "BOOLEAN", "VARCHAR", "CHAR", "DATE", "TIME",
    "TIMESTAMP", "DECIMAL", "VARBINARY", "UNKNOWN", "IPADDRESS",
    "IPPREFIX", "STRING",
))


def parse_presto_type(text: str):
    """Type tree for a Presto/Spark type spelling (both the paren
    and angle-bracket container forms), else None."""
    t = text.strip()
    m = re.match(r"^(ARRAY|MAP|ROW|STRUCT)\s*([(<])", t, re.IGNORECASE)
    if m is not None:
        head = m.group(1).upper()
        open_i = m.end() - 1
        close_i = (angle_close if t[open_i] == "<" else balanced)(
            t, open_i) - 1
        inner = t[open_i + 1:close_i]
        if t[close_i + 1:].strip():
            return None
        if head == "ARRAY":
            el = parse_presto_type(inner)
            return ("array", el) if el is not None else None
        if head == "MAP":
            kv = split_top(inner)
            if len(kv) != 2:
                return None
            k, v = parse_presto_type(kv[0]), parse_presto_type(kv[1])
            return ("map", k, v) if k is not None and v is not None \
                else None
        # ROW / STRUCT: fields are "name type", "name: type", or
        # bare types; names (when present) are kept for field
        # access on struct-typed columns
        fields, names = [], []
        for f in split_top(inner):
            name = None
            ft = parse_presto_type(f)
            if ft is None:
                if ":" in f.split("<", 1)[0].split("(", 1)[0]:
                    name, body = (p.strip() for p in f.split(":", 1))
                elif len(f.split(None, 1)) == 2:
                    name, body = f.split(None, 1)
                else:
                    body = None
                ft = parse_presto_type(body) if body else None
            if ft is None:
                return None
            fields.append(ft)
            names.append(name)
        return ("row", fields, names)
    if t.upper() == "JSON":
        return "json"
    if t.upper() == "UNKNOWN":
        return "unknown"
    if re.match(r"^DECIMAL\b", t, re.IGNORECASE):
        return "decimal"
    base = re.match(r"^([A-Za-z]+)\s*(\(\s*\d+(?:\s*,\s*\d+)?\s*\))?$",
                    t)
    if base is not None and base.group(1).upper() in _SCALAR_TYPES:
        return "scalar"
    return None


def unify(types: list):
    """Least structural upper bound of derived element types."""
    ts = [t for t in types if t is not None and t != "unknown"]
    if not ts:
        return "unknown"
    first = ts[0]
    if all(t == first for t in ts):
        return first
    if all(isinstance(t, tuple) and t[0] == "array" for t in ts):
        return ("array", unify([t[1] for t in ts]))
    if all(isinstance(t, tuple) and t[0] == "map" for t in ts):
        return ("map", unify([t[1] for t in ts]),
                unify([t[2] for t in ts]))
    if all(isinstance(t, tuple) and t[0] == "row" for t in ts):
        lens = {len(t[1]) for t in ts}
        if len(lens) == 1:
            n = lens.pop()
            names = next((t[2] for t in ts if len(t) > 2 and t[2]),
                         None)
            return ("row", [unify([t[1][i] for t in ts])
                            for i in range(n)], names)
        return None
    if any(isinstance(t, tuple) for t in ts):
        return None  # container mixed with scalar: not a real type
    return "scalar"  # scalar/json/decimal mixes render as scalars


def _unparen(expr: str) -> str:
    """expr without the paren groups wrapping all of it."""
    e = expr.strip()
    while (c := ctor_at(e)) is not None and not c.head and c.end == len(e):
        e = c.inner.strip()
    return e


def derive_ptype(expr: str):
    """Lexical Presto type-shape of a masked expression, else None.
    'unknown' means a typeless NULL (renderable as null)."""
    e = _unparen(expr)
    if not e:
        return None
    if e.upper() == "NULL":
        return "unknown"
    m = _DOTTED_NUM.fullmatch(e)
    if m is not None:
        # a plain decimal literal is DECIMAL in Presto; its Spark
        # to_json rendering uses BigDecimal.toString (scientific for
        # small magnitudes) where the reference writes the plain form
        return "scalar" if m.group(1) else "decimal"
    lit = literal_span(e)
    if lit is not None and lit.form in ("bare", "call") or STR_PH.match(e) \
            or _TYPED_SCALAR_LIT.match(e) or e.upper() in ("TRUE", "FALSE"):
        return "scalar"
    if _JSON_LOWERED.match(e):
        return "json"
    c = ctor_at(e)
    if c is None or c.end != len(e):
        # `ARRAY[...] || elem` and friends; a CAST or a MAP(...) must
        # span the whole text
        if c is not None and c.head in ("CAST", "TRY_CAST", "MAP"):
            return None
        return _concat_chain_type(e)
    if c.head in ("CAST", "TRY_CAST"):
        cast = split_cast(c.inner)
        return None if cast is None else parse_presto_type(cast[1])
    parts = c.parts
    if c.head == "ARRAY":
        if not parts:
            return ("array", "unknown")
        el = unify([derive_ptype(x) for x in parts])
        return ("array", el) if el is not None else None
    if c.head == "MAP":
        if not parts:
            return ("map", "unknown", "unknown")
        if len(parts) != 2:
            return None
        karr, varr = derive_ptype(parts[0]), derive_ptype(parts[1])
        if (isinstance(karr, tuple) and karr[0] == "array"
                and isinstance(varr, tuple) and varr[0] == "array"):
            return ("map", karr[1], varr[1])
        return None
    if c.head in ("FROM_UNIXTIME", "COUNT", "SUM", "AVG"):
        # known scalar-returning calls: from_unixtime (timestamp
        # keys/values in the reference's map comparison tests) and
        # the always-scalar aggregates (count/sum/avg — min/max can
        # carry container types and stay underivable)
        return "scalar"
    if c.head == "ROW":
        fields = [derive_ptype(x) for x in split_top(c.inner)]
        if any(f is None for f in fields):
            return None
        return ("row", fields, None)
    return None


def _concat_chain_type(e: str):
    """`ARRAY[...] || elem` and friends derive the array type
    (ArrayConcatFunction / element append)."""
    parts = split_top(e, "||")
    if len(parts) < 2:
        return None
    types = [derive_ptype(p) for p in parts]
    if any(t is None for t in types):
        return None
    arrays = [t for t in types if isinstance(t, tuple)
              and t[0] == "array"]
    if not arrays:
        return None
    elems = [t[1] for t in arrays] + \
        [t for t in types if not isinstance(t, tuple)
         and t != "unknown"]
    el = unify([x for x in elems if x != "unknown"] or ["unknown"])
    return ("array", el) if el is not None else None


# ---------------------------------------------------------------------------
# rendering
# ---------------------------------------------------------------------------


def _render(expr: str, t, stash, lit, depth: int) -> str | None:
    """SQL producing the canonical JSON TEXT of ``expr`` (type tree
    ``t``); nested nulls render as the text 'null'."""
    var = f"jc{depth}"
    if t == "json":
        return (f"(CASE WHEN ({expr}) IS NULL THEN {lit('null')} "
                f"ELSE ({expr}) END)")
    if t == "decimal":
        # Spark's to_json writes decimals through
        # BigDecimal.toString (0E-16 for a zero at scale 16); the
        # reference writes toPlainString — which is exactly Spark's
        # decimal->string CAST (TestMapOperators.java:200 expects
        # "0.0000000000000000")
        return (f"(CASE WHEN ({expr}) IS NULL THEN {lit('null')} "
                f"ELSE CAST(({expr}) AS STRING) END)")
    if t in ("scalar", "unknown") or t is None:
        # the bracket-strip trick: to_json(array(x)) renders any
        # value (including null -> [null]) in the canonical scalar
        # form; strip the brackets
        tj = f"to_json(array({expr}))"
        return f"substr({tj}, 2, length({tj}) - 2)"
    kind = t[0]
    if kind == "array":
        el = _render(var, t[1], stash, lit, depth + 1)
        if el is None:
            return None
        return (
            f"(CASE WHEN ({expr}) IS NULL THEN {lit('null')} "
            f"ELSE concat({lit('[')}, array_join(transform({expr}, "
            f"{var} -> {el}), {lit(',')}), {lit(']')}) END)"
        )
    if kind == "map":
        kr = _render(f"{var}.key", t[1], stash, lit, depth + 1)
        vr = _render(f"{var}.value", t[2], stash, lit, depth + 1)
        if kr is None or vr is None:
            return None
        pv = f"jp{depth}"
        # keys are never null; quote the rendered key text unless
        # the renderer already produced a JSON string
        kq = (f"(CASE WHEN startswith({kr}, {lit(chr(34))}) THEN {kr} "
              f"ELSE concat({lit(chr(34))}, {kr}, {lit(chr(34))}) END)")
        return (
            f"(CASE WHEN ({expr}) IS NULL THEN {lit('null')} "
            f"ELSE concat({lit('{')}, array_join(transform("
            f"sort_array(transform(map_entries({expr}), "
            f"{var} -> named_struct({lit('k')}, {kq}, "
            f"{lit('v')}, {vr}))), "
            f"{pv} -> concat({pv}.k, {lit(':')}, {pv}.v)), "
            f"{lit(',')}), {lit('}')}) END)"
        )
    if kind == "row":
        # field-wise access by Spark's positional struct names
        # (complexTypeCreator CreateStruct: col1..colN — the names
        # ROW constructors produce through the engine's row-ctor
        # rewrite). A row reaching here sits INSIDE a container; the
        # top-level ctor path renders without names.
        names = t[2] if len(t) > 2 else None
        parts = []
        for i, ft in enumerate(t[1]):
            fname = (names[i] if names and names[i] is not None
                     else f"col{i + 1}")
            r = _render(f"({expr}).{fname}", ft, stash, lit,
                        depth + 1)
            if r is None:
                return None
            parts.append(r)
        joined = f", {lit(',')}, ".join(parts)
        body = f"concat({lit('[')}, {joined}, {lit(']')})" if parts \
            else f"concat({lit('[')}, {lit(']')})"
        return (f"(CASE WHEN ({expr}) IS NULL THEN {lit('null')} "
                f"ELSE {body} END)")
    return None


def _render_row_ctor(args: list[str], fields, stash, lit,
                     depth: int) -> str | None:
    parts: list[str] = []
    for i, a in enumerate(args):
        t = fields[i] if i < len(fields) else None
        r = _render_value(a, t, stash, lit, depth)
        if r is None:
            return None
        parts.append(r)
    joined = f", {lit(',')}, ".join(parts)
    if parts:
        return f"concat({lit('[')}, {joined}, {lit(']')})"
    return f"concat({lit('[')}, {lit(']')})"


def _render_value(expr: str, t, stash, lit, depth: int) -> str | None:
    """Render an expression whose derived type may be a row — row
    CONSTRUCTORS render field-wise, everything else through
    _render."""
    e = _unparen(expr)
    if isinstance(t, tuple) and t[0] == "row":
        ctor = _row_args(e)
        if ctor is not None:
            return _render_row_ctor(ctor, t[1], stash, lit, depth + 1)
        if e.upper() == "NULL":
            return lit("null")
        return None
    # container element types may nest rows: a row INSIDE an
    # array/map needs the object->array repair, which only the ctor
    # path provides — but ARRAY[ROW(..), ..] elements are ctors and
    # arrive here element-wise via the lambda var, so nested non-ctor
    # rows decline inside _render
    return _render(e, t, stash, lit, depth)


def _row_args(e: str) -> list[str] | None:
    """Arg texts when ``e`` is ROW(...) or (TRY_)CAST(ROW(...) AS
    row-type); else None."""
    c = ctor_at(e)
    if c is None or c.end != len(e):
        return None
    if c.head == "ROW":
        return split_top(c.inner)
    if c.head in ("CAST", "TRY_CAST"):
        cast = split_cast(c.inner)
        return None if cast is None else _row_args(cast[0])
    return None


# ---------------------------------------------------------------------------
# the rewrite
# ---------------------------------------------------------------------------

_CAST_JSON = re.compile(r"\b((?:TRY_)?CAST)\s*\(", re.IGNORECASE)


def rewrite_container_json_casts(masked: str, stash) -> str:
    """CAST(x AS JSON) over a lexically-derivable operand -> the
    canonical-JSON rendering expression. Runs BEFORE the engine's
    container rewrites, so operands are still in Presto form.
    Underivable operands (and scalar JSON casts, which the
    template/peephole layer owns where they matter) keep the old
    text."""
    def lit(s: str) -> str:
        return stash_lit(stash, s)

    out = masked
    pos = 0
    while True:
        m = _CAST_JSON.search(out, pos)
        if m is None:
            return out
        c = ctor_at(out, m.start())
        if c is None:
            return out
        past = c.end
        cast = split_cast(c.inner)
        if cast is None or cast[1].upper() != "JSON":
            pos = m.end()
            continue
        operand = cast[0]
        t = derive_ptype(operand)
        rendered = None
        if isinstance(t, tuple) and t[0] == "row":
            ctor = _row_args(operand)
            if ctor is not None:
                rendered = _render_row_ctor(ctor, t[1], stash, lit, 0)
            else:
                rendered = _render(operand, t, stash, lit, 0)
        elif t is not None:
            # containers, json (raw embed), scalars (bracket trick),
            # and the typeless NULL all render through _render_value
            rendered = _render_value(operand, t, stash, lit, 0)
        if rendered is None:
            pos = m.end()
            continue
        # top-level NULL input is SQL NULL (standard cast null
        # propagation), unlike nested nulls which render as text;
        # constructor operands are never NULL — skip the guard
        # (whose operand copy would re-embed inner casts)
        c = ctor_at(operand)
        if c is not None and c.head in ("ARRAY", "MAP", "ROW"):
            repl = rendered
        else:
            repl = (f"(CASE WHEN ({operand}) IS NULL "
                    f"THEN CAST(NULL AS STRING) ELSE {rendered} END)")
        out = out[:m.start()] + repl + out[past:]
        # RE-SCAN the emission: operand copies may contain nested
        # CAST(x AS JSON) (a JSON-typed row field like
        # CAST(null AS JSON)) that must lower too; emissions
        # introduce no new AS JSON text of their own, so this
        # terminates
        pos = m.start()


# ---------------------------------------------------------------------------
# map comparisons — Spark's MapType is unorderable (= / <=> raise
# INVALID_ORDERING_TYPE); the reference defines map equality and
# distinctness (MapEqualOperator / MapDistinctFromOperator via
# MapGenericEquality): equal iff same key set and every value pair
# equal, with an indeterminate (NULL) value comparison making the
# whole result NULL; IS DISTINCT FROM compares values null-safely.
# ---------------------------------------------------------------------------


def _map_value_eq(x: str, y: str, vt, depth: int) -> str:
    """3-valued equality of two map VALUES of derived type vt."""
    if isinstance(vt, tuple) and vt[0] == "map":
        return _map_eq_expr(x, y, vt, depth + 1)
    return f"(({x}) = ({y}))"


def _map_value_dist(x: str, y: str, vt, depth: int) -> str:
    if isinstance(vt, tuple) and vt[0] == "map":
        return _map_dist_expr(x, y, vt, depth + 1)
    return f"(NOT (({x}) <=> ({y})))"


def _map_eq_expr(a: str, b: str, t, depth: int = 0) -> str:
    k = f"mk{depth}"
    vt = t[2] if isinstance(t, tuple) and t[0] == "map" else None
    veq = _map_value_eq(f"try_element_at({a}, {k})",
                        f"try_element_at({b}, {k})", vt, depth)
    keys = f"map_keys({a})"
    return (
        f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL "
        f"THEN CAST(NULL AS BOOLEAN) "
        f"WHEN size({a}) != size({b}) THEN false "
        f"WHEN exists({keys}, {k} -> "
        f"NOT array_contains(map_keys({b}), {k})) THEN false "
        f"WHEN exists({keys}, {k} -> NOT coalesce({veq}, true)) "
        f"THEN false "
        f"WHEN exists({keys}, {k} -> ({veq}) IS NULL) "
        f"THEN CAST(NULL AS BOOLEAN) "
        f"ELSE true END)"
    )


def _map_dist_expr(a: str, b: str, t, depth: int = 0) -> str:
    k = f"mk{depth}"
    vt = t[2] if isinstance(t, tuple) and t[0] == "map" else None
    vd = _map_value_dist(f"try_element_at({a}, {k})",
                         f"try_element_at({b}, {k})", vt, depth)
    keys = f"map_keys({a})"
    return (
        f"(CASE WHEN ({a}) IS NULL AND ({b}) IS NULL THEN false "
        f"WHEN ({a}) IS NULL OR ({b}) IS NULL THEN true "
        f"WHEN size({a}) != size({b}) THEN true "
        f"WHEN exists({keys}, {k} -> "
        f"NOT array_contains(map_keys({b}), {k})) THEN true "
        f"ELSE exists({keys}, {k} -> {vd}) END)"
    )


_MAP_CMP_OP = re.compile(
    r"(\s+IS\s+(?:NOT\s+)?DISTINCT\s+FROM\s+|\s*(?:!=|<>|=)\s*)",
    re.IGNORECASE)


def rewrite_map_comparisons(masked: str, stash) -> str:
    """MAP-typed `=`, `!=`, `<>`, and IS [NOT] DISTINCT FROM ->
    key-set + value-wise comparison expressions. Fires only when a
    side lexically derives a map shape; runs before the engine's
    container rewrites."""
    out = masked
    pos = 0
    while True:
        m = _MAP_CMP_OP.search(out, pos)
        if m is None:
            return out
        op = m.group(1).strip().upper()
        pos = m.end()
        if "=" in op and ("<=" in out[max(0, m.start() - 1):m.end() + 1]
                          or ">=" in out[max(0, m.start() - 1):m.end() + 1]):
            continue
        left = operand_back(out, m.start())
        right = operand_fwd(out, m.end())
        if left is None or right is None:
            continue
        a, b = out[left.start:left.end], out[right.start:right.end]
        lt, rt = derive_ptype(a), derive_ptype(b)
        t = lt if isinstance(lt, tuple) and lt[0] == "map" else rt
        if not (isinstance(t, tuple) and t[0] == "map"):
            continue
        null_side = a.strip().upper() == "NULL" or \
            b.strip().upper() == "NULL"
        if op.startswith("IS"):
            if null_side:
                other = b if a.strip().upper() == "NULL" else a
                repl = f"(({other}) IS NOT NULL)"
            else:
                repl = _map_dist_expr(a, b, t)
            if "NOT" in op:
                repl = f"(NOT {repl})"
        else:
            repl = "CAST(NULL AS BOOLEAN)" if null_side \
                else _map_eq_expr(a, b, t)
            if op in ("!=", "<>") and not null_side:
                repl = f"(NOT {repl})"
        out = out[:left.start] + repl + out[right.end:]
        pos = left.start + len(repl)


# ---------------------------------------------------------------------------
# array || element  (ArrayConcatFunction's element-append overloads:
# Spark's || / concat requires both sides arrays)
# ---------------------------------------------------------------------------


def rewrite_array_element_concat(masked: str) -> str:
    """Each side of `||` is one operand with its unary signs: SqlBase.g4
    binds a sign tighter than CONCAT, so `-1 || ARRAY[2]` is [-1, 2]."""
    out = masked
    pos = 0
    while True:
        i = out.find("||", pos)
        if i < 0:
            return out
        pos = i + 2
        left = operand_back(out, i)
        right = operand_fwd(out, skip_signs(out, i + 2))
        if left is None or right is None:
            continue
        lo = unary_start(out, left.start)
        a = out[lo:left.end]
        b = out[i + 2:right.end].strip()
        lt, rt = derive_ptype(a), derive_ptype(b)
        l_arr = isinstance(lt, tuple) and lt[0] == "array"
        r_arr = isinstance(rt, tuple) and rt[0] == "array"
        if l_arr and rt in ("scalar", "decimal"):
            repl = f"array_append({a}, {b})"
        elif r_arr and lt in ("scalar", "decimal"):
            repl = f"array_prepend({b}, {a})"
        else:
            continue
        out = out[:lo] + repl + out[right.end:]
        pos = lo + len(repl)


# ---------------------------------------------------------------------------
# mixed-scale decimal coercion: the reference coerces DECIMAL
# operands of array_position and array comparisons to a common
# super-decimal; Spark requires identical element types
# (TestArrayOperators.java:679-682, 1349)
# ---------------------------------------------------------------------------

def _numeric_literal_scales(exprs):
    """Scales when every expr is a plain (optionally signed) integer or
    decimal literal or NULL; None otherwise."""
    scales = set()
    for e in exprs:
        if e.strip().upper() == "NULL":
            continue
        lit = literal_span(e)
        ps = None if lit is None or "(" in e else decimal_of(lit.type)
        if ps is None:
            return None
        scales.add(ps[1])
    return scales


_ARRAY_POS_HEAD = re.compile(r"\bARRAY_POSITION\s*\(", re.IGNORECASE)
_DEC38 = "DECIMAL(38,18)"


def rewrite_decimal_array_ops(masked: str) -> str:
    out = masked
    # array_position(decimal-literal array, decimal/int literal)
    pos = 0
    while True:
        m = _ARRAY_POS_HEAD.search(out, pos)
        if m is None:
            break
        pos = m.end()
        open_i = m.end() - 1
        try:
            past = balanced(out, open_i)
        except ValueError:
            continue
        args = split_top(out[open_i + 1:past - 1])
        if len(args) != 2:
            continue
        c = ctor_at(args[0])
        if c is None or c.head != "ARRAY" or c.end != len(args[0]):
            continue
        scales = _numeric_literal_scales(c.parts + [args[1]])
        if scales is None or len(scales) <= 1:
            continue
        repl = (f"ARRAY_POSITION(CAST({args[0]} AS "
                f"ARRAY<{_DEC38}>), CAST({args[1]} AS {_DEC38}))")
        out = out[:m.start()] + repl + out[past:]
        pos = m.start() + len(repl)
    # array-literal comparisons with differing element scales
    cmp_op = re.compile(r"\s*(<=|>=|<>|!=|<|>|=)\s*")
    pos = 0
    while True:
        m = re.compile(r"\]", re.IGNORECASE).search(out, pos)
        if m is None:
            return out
        pos = m.end()
        om = cmp_op.match(out, m.end())
        if om is None:
            continue
        left = operand_back(out, m.end())
        right = operand_fwd(out, om.end())
        if left is None or right is None:
            continue
        lc, rc = ctor_at(out, left.start), ctor_at(out, right.start)
        if not (lc is not None and lc.head == "ARRAY"
                and lc.end == left.end and rc is not None
                and rc.head == "ARRAY" and rc.end == right.end):
            continue
        scales = _numeric_literal_scales(lc.parts + rc.parts)
        if scales is None or len(scales) <= 1:
            continue
        repl = (f"CAST({out[left.start:left.end]} AS ARRAY<{_DEC38}>) "
                f"{om.group(1)} "
                f"CAST({out[right.start:right.end]} AS ARRAY<{_DEC38}>)")
        out = out[:left.start] + repl + out[right.end:]
        pos = left.start + len(repl)
