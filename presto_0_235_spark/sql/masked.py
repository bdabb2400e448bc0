"""What every rewrite pass over MASKED SQL text shares.

Masked text is the front door's working form (frontend._mask): string
literals, quoted identifiers and comments sit in a stash and appear in
the text as \\x00<kind><n>\\x00 placeholders, so every paren, comma and
operator seen here is code.

- balanced / balanced_back: bracket matching in either direction.
- split_top: the top-level comma split.
- stash_lit / lit_of: append a string literal to the stash, read one
  back.
- operand_fwd / operand_back / operand_span: the typed-operand scanner,
  the one place a masked operand's Presto static type is derived;
  decimal_cast_type reads a decimal CAST's (p, s) through it.

The scanner parses one grammar in both directions and reports an
operand's extent with three facts: its Presto static type, whether it
is a numeric literal, and which binary operators a parenthesized chain
holds. Each rewrite pass keeps its own domain rules as filters on those
facts; the scanner itself takes no mode.
"""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# Brackets, commas, stashed literals
# ---------------------------------------------------------------------------


def balanced(s: str, open_i: int) -> int:
    """Index just past the bracket closing s[open_i] ('(' or '[');
    parentheses and square brackets nest as one depth."""
    depth = 0
    for k in range(open_i, len(s)):
        c = s[k]
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
            if depth == 0:
                return k + 1
    raise ValueError("unbalanced parentheses in SQL")


def balanced_back(s: str, j: int) -> int:
    """Index of the bracket opening the one at s[j - 1] (')' or ']')."""
    depth = 0
    for k in range(j - 1, -1, -1):
        c = s[k]
        if c in ")]":
            depth += 1
        elif c in "([":
            depth -= 1
            if depth == 0:
                return k
    raise ValueError("unbalanced parentheses in SQL")


def split_top(s: str) -> list[str]:
    """Split on commas at bracket depth 0; parts come back stripped."""
    parts, depth, start = [], 0, 0
    for j, c in enumerate(s):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:j])
            start = j + 1
    parts.append(s[start:])
    return [p.strip() for p in parts]


def stash_lit(stash: list[tuple[str, str]], text: str) -> str:
    """Append a string literal to the mask stash, return placeholder."""
    stash.append(("str", "'" + text.replace("'", "''") + "'"))
    return f"\x00s{len(stash) - 1}\x00"


_STR_PH = re.compile("^\x00s(\\d+)\x00$")


def lit_of(arg: str, stash: list[tuple[str, str]]) -> str | None:
    """The Python string behind a masked literal arg, else None."""
    m = _STR_PH.match(arg.strip())
    if m is None:
        return None
    _kind, text = stash[int(m.group(1))]
    return text[1:-1].replace("''", "'")


# ---------------------------------------------------------------------------
# Typed operands
# ---------------------------------------------------------------------------
# Types are spelled as the templates read them: 'tinyint', 'smallint',
# 'int', 'bigint' (INTEGRAL, in rank order), 'real', 'double',
# ('decimal', p, s), ('char', n), 'varchar' (a string literal), or
# None when the operand's type is not static.

INTEGRAL = ("tinyint", "smallint", "int", "bigint")
FLOATING = ("real", "double")
# the decimal(p, 0) an integral operand coerces to in a decimal op
# (TypeRegistry: tinyint->(3,0), smallint->(5,0), integer->(10,0),
# bigint->(19,0))
_INT_DECIMAL_P = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 19}

_IDENTCH = set("abcdefghijklmnopqrstuvwxyz"
              "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_.\x00")

_AGGREGATES = ("COUNT", "SUM", "MIN", "MAX", "AVG")
_HEAD_FWD = re.compile(
    r"(TRY_CAST|CAST|count|sum|min|max|avg|nan|infinity)\s*\(",
    re.IGNORECASE)
_HEAD_BACK = re.compile(
    r"(?<![\w.\x00])(TRY_CAST|CAST|count|sum|min|max|avg|nan|infinity)"
    r"\s*$", re.IGNORECASE)
_NUM_FWD = re.compile(r"\d+(?:\.\d+)?(?:[eE][+-]?\d+)?")
_STR_FWD = re.compile(r"\x00s\d+\x00")
_TOKEN_BACK = re.compile(
    r"(?:\d+(?:\.\d+)?(?:[eE][+-]?\d+)?|\x00s\d+\x00)$")
_CAST_TAIL = re.compile(
    r"\bAS\s+(TINYINT|SMALLINT|INTEGER|INT|BIGINT|DOUBLE|FLOAT|REAL"
    r"|DECIMAL\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)"
    r"|CHAR\s*\(\s*(\d+)\s*\))\s*$", re.IGNORECASE)
_CAST_NAMES = {"TINYINT": "tinyint", "SMALLINT": "smallint",
               "INT": "int", "INTEGER": "int", "BIGINT": "bigint",
               "DOUBLE": "double", "FLOAT": "real", "REAL": "real"}
# `OVER (spec)` or `OVER name` after an aggregate call: the windowed
# form keeps the aggregate's type. FILTER / WITHIN GROUP decline — a
# rewrite wrapping the call alone would orphan the suffix.
OVER_FWD = re.compile(r"\s*OVER\b\s*(\(|[A-Za-z_]\w*)", re.IGNORECASE)
_OVER_BACK = re.compile(r"\bOVER\s*(?:[A-Za-z_]\w*)?$", re.IGNORECASE)
_SUFFIX_STOP = re.compile(r"\s*(FILTER|WITHIN)\b", re.IGNORECASE)


class Operand:
    """A scanned operand: masked[start:end] is its text.

    type: the Presto static type (spellings above), or None.
    lit:  a numeric literal, possibly signed or parenthesized.
    ops:  the binary operators of a parenthesized chain, nested groups
          included ("" for anything else); a non-empty ops is a chain."""

    __slots__ = ("start", "end", "type", "lit", "ops")

    def __init__(self, start, end, type_, lit=False, ops=""):
        self.start, self.end = start, end
        self.type, self.lit, self.ops = type_, lit, ops


def _literal_type(text: str):
    """Presto's type for a bare numeric literal: DOUBLE with an
    exponent, DECIMAL by digit shape with a point, else INTEGER or
    BIGINT by range; None for an integer beyond BIGINT."""
    if "e" in text or "E" in text:
        return "double"
    if "." in text:
        ip, _, fp = text.partition(".")
        return ("decimal", max(1, len(ip.lstrip("0") + fp)), len(fp))
    v = int(text)
    if v < 2 ** 31:
        return "int"
    return "bigint" if v < 2 ** 63 else None


def _cast_type(body: str):
    """The target type of a CAST whose parenthesized body is `body`."""
    m = _CAST_TAIL.search(body)
    if m is None:
        return None
    if m.group(2) is not None:
        return ("decimal", int(m.group(2)),
                int(m.group(3)) if m.group(3) else 0)
    if m.group(4) is not None:
        return ("char", int(m.group(4)))
    return _CAST_NAMES[m.group(1).upper()]


def is_decimal(t) -> bool:
    return isinstance(t, tuple) and t[0] == "decimal"


def decimal_of(t):
    """(p, s) of a decimal type, or the decimal(p, 0) an integral type
    coerces to; None otherwise."""
    if is_decimal(t):
        return t[1], t[2]
    if t in _INT_DECIMAL_P:
        return _INT_DECIMAL_P[t], 0
    return None


def decimal_result(op: str, p1: int, s1: int, p2: int, s2: int):
    """(p, s) Presto derives for decimal(p1,s1) op decimal(p2,s2)
    (DecimalOperators.java: add/sub :91-92, multiply :251-252, divide
    :316-317, modulus :480-481). A multiply scale above 38 is returned
    as is: the analyzer rejects it."""
    if op in "+-":
        rs = max(s1, s2)
        return min(38, max(p1 - s1, p2 - s2) + rs + 1), rs
    if op == "*":
        return min(38, p1 + p2), s1 + s2
    if op == "%":
        rs = max(s1, s2)
        return min(38, max(1, min(p1 - s1, p2 - s2) + rs)), rs
    return min(38, p1 + s2 + max(0, s2 - s1)), max(s1, s2)


def _arith_type(op: str, a, b):
    """Presto's result type of a op b over numeric operand types."""
    num = INTEGRAL + FLOATING
    if not ((a in num or is_decimal(a)) and (b in num or is_decimal(b))):
        return None
    if "double" in (a, b):
        return "double"
    if "real" in (a, b):
        return "real"
    if a in INTEGRAL and b in INTEGRAL:
        return INTEGRAL[max(INTEGRAL.index(a), INTEGRAL.index(b))]
    p, s = decimal_result(op, *decimal_of(a), *decimal_of(b))
    return ("decimal", p, s) if s <= 38 else None


def _chain_type(types: list, ops: list):
    """Fold a chain's operand types left to right, `* / %` binding
    tighter than `+ -`."""
    terms, adds = [types[0]], []
    for op, t in zip(ops, types[1:]):
        if op in "*/%":
            terms[-1] = _arith_type(op, terms[-1], t)
        else:
            adds.append(op)
            terms.append(t)
    out = terms[0]
    for op, t in zip(adds, terms[1:]):
        out = _arith_type(op, out, t)
    return out


def _agg_type(name: str, arg):
    """An aggregate's Presto result type: count is BIGINT; sum over
    integral is BIGINT; min/max keep the argument's type; sum/avg keep
    REAL/DOUBLE and avg(integral) is DOUBLE. Spark's sum/avg over
    FLOAT return DOUBLE, so a pass that takes a REAL operand narrows
    its own result back to FLOAT. Decimal sum/avg stay untyped: Spark
    widens both, and _wrap_decimal_agg_types in the front door casts
    them to their Presto type before the decimal pass runs."""
    name = name.lower()
    if name == "count":
        return "bigint"
    if arg is None:
        return None
    if name in ("min", "max"):
        return arg.type
    if arg.type in FLOATING:
        return arg.type
    if arg.type in INTEGRAL:
        return "bigint" if name == "sum" else "double"
    return None


def _call(masked: str, start: int, name: str, open_i: int, past: int):
    """The operand for a recognized call head `name(` over
    masked[open_i:past], or None."""
    name = name.upper()
    body = masked[open_i + 1:past - 1]
    if name in ("CAST", "TRY_CAST"):
        return Operand(start, past, _cast_type(body))
    if name in ("NAN", "INFINITY"):
        return Operand(start, past, "double") if not body.strip() \
            else None
    arg = None if name == "COUNT" else operand_span(body)
    return Operand(start, past, _agg_type(name, arg))


def operand_fwd(masked: str, i: int):
    """The operand starting at i (whitespace already skipped), or
    None. Forms: numeric literals, string literals, (TRY_)CAST(... AS
    T), count/sum/min/max/avg calls with an OVER suffix absorbed,
    nan()/infinity(), and parenthesized `+ - * / %` chains. An
    identifier or '.' just before i declines: the text is part of a
    longer name or a call."""
    if i >= len(masked) or (i > 0 and masked[i - 1] in _IDENTCH):
        return None
    if masked[i] == "(":
        try:
            past = balanced(masked, i)
        except ValueError:
            return None
        inner = operand_span(masked, i + 1, past - 1)
        if inner is None:
            return None
        return Operand(i, past, inner.type, inner.lit, inner.ops)
    m = _HEAD_FWD.match(masked, i)
    if m is not None:
        try:
            past = balanced(masked, m.end() - 1)
        except ValueError:
            return None
        op = _call(masked, i, m.group(1), m.end() - 1, past)
        if op is None or m.group(1).upper() not in _AGGREGATES:
            return op
        om = OVER_FWD.match(masked, past)
        if om is not None:
            if om.group(1) == "(":
                try:
                    op.end = balanced(masked, om.end() - 1)
                except ValueError:
                    return None
            else:
                op.end = om.end()
        elif _SUFFIX_STOP.match(masked, past):
            return None
        return op
    m = _NUM_FWD.match(masked, i)
    if m is not None:
        if m.end() < len(masked) and masked[m.end()] in _IDENTCH:
            return None
        t = _literal_type(m.group(0))
        return Operand(i, m.end(), t, True) if t is not None else None
    m = _STR_FWD.match(masked, i)
    if m is not None:
        return Operand(i, m.end(), "varchar")
    return None


def operand_back(masked: str, j: int):
    """The operand ending just before j (masked[j - 1] is its last
    character), or None. Reading back only finds where such an operand
    would start; the operand itself is operand_fwd's from there, kept
    when it ends exactly at j, so both directions parse one grammar."""
    try:
        start = _start_back(masked, j)
    except ValueError:
        return None
    if start is None:
        return None
    op = operand_fwd(masked, start)
    return op if op is not None and op.end == j else None


def _start_back(masked: str, j: int):
    """The start of the candidate operand ending at j: the last bracket
    group with its call head (or the aggregate call before an OVER
    window), else a numeric literal or string placeholder."""
    if j <= 0:
        return None
    k = balanced_back(masked, j) if masked[j - 1] == ")" else j
    wm = _OVER_BACK.search(masked, 0, k)
    if wm is not None:
        k = len(masked[:wm.start()].rstrip())
        if k == 0 or masked[k - 1] != ")":
            return None
        k = balanced_back(masked, k)
    elif k == j:
        m = _TOKEN_BACK.search(masked, 0, j)
        return m.start() if m else None
    hm = _HEAD_BACK.search(masked, 0, k)
    return hm.start() if hm else k


def operand_span(masked: str, lo: int = 0, hi: int | None = None):
    """masked[lo:hi] as one expression, modulo surrounding whitespace:
    operands joined by binary `+ - * / %`, each with optional unary
    signs, typed by Presto's promotion rules. None when any token
    falls outside operand_fwd's grammar."""
    if hi is None:
        hi = len(masked)
    types, ops, nested = [], [], ""
    lit = True
    i = lo
    while True:
        while i < hi and (masked[i].isspace() or masked[i] in "+-"):
            i += 1  # unary sign: negation keeps the type
        op = operand_fwd(masked, i)
        if op is None or op.end > hi:
            return None
        types.append(op.type)
        lit = lit and op.lit
        nested += op.ops
        i = op.end
        while i < hi and masked[i].isspace():
            i += 1
        if i >= hi:
            break
        if masked[i] not in "+-*/%":
            return None
        ops.append(masked[i])
        i += 1
    return Operand(lo, hi, _chain_type(types, ops), lit and not ops,
                   "".join(ops) + nested)


_CAST_HEAD = re.compile(r"\s*(?:TRY_)?CAST\s*\(", re.IGNORECASE)


def decimal_cast_type(text: str):
    """(p, s) when text is EXACTLY one decimal-typed cast; None
    otherwise, including a compound like `CAST(a AS DECIMAL(10,2)) +
    CAST(b AS DECIMAL(10,2))`, whose type the reference derives from
    the whole expression."""
    op = operand_span(text)
    if op is None or op.ops or not is_decimal(op.type) \
            or not _CAST_HEAD.match(text):
        return None
    return op.type[1], op.type[2]
