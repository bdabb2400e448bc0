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
- literal / literal_span: the literal reader, the one place a numeric
  literal's exact value and Presto type are read. Every constant fold
  in the front door reads its literals here; INTEGRAL_RANGE is the one
  integral range table.

The scanner parses one grammar in both directions and reports an
operand's extent with three facts: its Presto static type, whether it
is a numeric literal, and which binary operators a parenthesized chain
holds. Each rewrite pass keeps its own domain rules as filters on those
facts; the scanner itself takes no mode.
"""

from __future__ import annotations

import re
from decimal import Decimal, InvalidOperation
from typing import NamedTuple

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


# a whole masked text that is one string literal's placeholder
STR_PH = re.compile("^\x00s(\\d+)\x00$")


def lit_of(arg: str, stash: list[tuple[str, str]]) -> str | None:
    """The Python string behind a masked literal arg, else None."""
    m = STR_PH.match(arg.strip())
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
# each integral type's value range, both ends inclusive
INTEGRAL_RANGE = {t: (-(1 << (b - 1)), (1 << (b - 1)) - 1)
                  for t, b in zip(INTEGRAL, (8, 16, 32, 64))}
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
# a numeric typed literal `T '<n>'` (SqlBase.g4 typeConstructor; no
# space needed before the quote)
_TYPED_HEADS = "TINYINT|SMALLINT|INTEGER|INT|BIGINT|REAL|DOUBLE|DECIMAL"
_TYPED_FWD = re.compile(rf"({_TYPED_HEADS})\s*(\x00s\d+\x00)", re.IGNORECASE)
_TYPED_BACK = re.compile(rf"\b(?:{_TYPED_HEADS})\s*$", re.IGNORECASE)
_STR_FWD = re.compile(r"\x00s\d+\x00")
_TOKEN_BACK = re.compile(
    r"(?:\d+(?:\.\d+)?(?:[eE][+-]?\d+)?|\x00s\d+\x00)$")
_CAST_TAIL = re.compile(
    r"\bAS\s+(TINYINT|SMALLINT|INTEGER|INT|BIGINT|DOUBLE|FLOAT|REAL"
    r"|DECIMAL(?:\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?"
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
    lit:  a bare numeric literal, possibly signed or parenthesized.
    ops:  the binary operators of a parenthesized chain, nested groups
          included ("" for anything else); a non-empty ops is a chain."""

    __slots__ = ("start", "end", "type", "lit", "ops")

    def __init__(self, start, end, type_, lit=False, ops=""):
        self.start, self.end = start, end
        self.type, self.lit, self.ops = type_, lit, ops


_DECIMAL_TEXT = re.compile(r"[+-]?(\d*)(?:\.(\d*))?")
_INTEGER_TEXT = re.compile(r"[+-]?\d+")


def _literal_type(text: str, head: str = ""):
    """Presto's type for the numeric literal `text`, bare (no head) or
    typed `head '<text>'`; None when Presto rejects the literal. A bare
    literal is DOUBLE with an exponent, DECIMAL with a point, else
    INTEGER or BIGINT by range. A DECIMAL takes (p, s) from its digits
    as Decimals.parse does: leading integer zeros carry no precision,
    so 0.5 is decimal(1,1). An integral literal must fit its type."""
    body, head = text.strip(), head.upper()
    if head in ("REAL", "DOUBLE") or (not head and "e" in body.lower()):
        try:
            ok = not Decimal(body).is_snan()
        except InvalidOperation:
            ok = False
        return _CAST_NAMES.get(head, "double") if ok else None
    if head == "DECIMAL" or (not head and "." in body):
        m = _DECIMAL_TEXT.fullmatch(body)
        if m is None or not (m.group(1) or m.group(2)):
            return None
        fp = m.group(2) or ""
        return ("decimal", max(1, len(m.group(1).lstrip("0") + fp)),
                len(fp))
    if _INTEGER_TEXT.fullmatch(body) is None:
        return None
    v = int(body)
    t = _CAST_NAMES[head] if head else \
        "int" if v <= INTEGRAL_RANGE["int"][1] else "bigint"
    lo, hi = INTEGRAL_RANGE[t]
    return t if lo <= v <= hi else None


def cast_type(body: str):
    """The target type of a CAST whose parenthesized body is `body`;
    a bare DECIMAL is decimal(38, 0) (DecimalType.createDecimalType)."""
    m = _CAST_TAIL.search(body)
    if m is None:
        return None
    if m.group(4) is not None:
        return ("char", int(m.group(4)))
    if m.group(1)[:7].upper() == "DECIMAL":
        return ("decimal", int(m.group(2) or 38), int(m.group(3) or 0))
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


def _call(masked: str, start: int, name: str, open_i: int, past: int,
          stash):
    """The operand for a recognized call head `name(` over
    masked[open_i:past], or None."""
    name = name.upper()
    body = masked[open_i + 1:past - 1]
    if name in ("CAST", "TRY_CAST"):
        return Operand(start, past, cast_type(body))
    if name in ("NAN", "INFINITY"):
        return Operand(start, past, "double") if not body.strip() \
            else None
    arg = None if name == "COUNT" else operand_span(body, stash=stash)
    return Operand(start, past, _agg_type(name, arg))


def operand_fwd(masked: str, i: int, stash=None):
    """The operand starting at i (whitespace already skipped), or
    None. Forms: numeric literals, numeric typed literals `T '<n>'`,
    string literals, (TRY_)CAST(... AS T), count/sum/min/max/avg calls
    with an OVER suffix absorbed, nan()/infinity(), and parenthesized
    `+ - * / %` chains. An identifier or '.' just before i declines:
    the text is part of a longer name or a call. The stash is read
    only to type a DECIMAL '<n>'."""
    if i >= len(masked) or (i > 0 and masked[i - 1] in _IDENTCH):
        return None
    if masked[i] == "(":
        try:
            past = balanced(masked, i)
        except ValueError:
            return None
        inner = operand_span(masked, i + 1, past - 1, stash)
        if inner is None:
            return None
        return Operand(i, past, inner.type, inner.lit, inner.ops)
    m = _TYPED_FWD.match(masked, i)
    if m is not None:
        head = m.group(1).upper()
        if head != "DECIMAL":
            return Operand(i, m.end(), _CAST_NAMES[head])
        body = None if stash is None else lit_of(m.group(2), stash)
        return Operand(i, m.end(),
                       None if body is None else _literal_type(body, head))
    m = _HEAD_FWD.match(masked, i)
    if m is not None:
        try:
            past = balanced(masked, m.end() - 1)
        except ValueError:
            return None
        op = _call(masked, i, m.group(1), m.end() - 1, past, stash)
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


def operand_back(masked: str, j: int, stash=None):
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
    op = operand_fwd(masked, start, stash)
    return op if op is not None and op.end == j else None


def _start_back(masked: str, j: int):
    """The start of the candidate operand ending at j: the last bracket
    group with its call head (or the aggregate call before an OVER
    window), else a numeric literal or a string placeholder with its
    typed-literal head."""
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
        if m is None:
            return None
        hm = _TYPED_BACK.search(masked, 0, m.start()) \
            if masked[j - 1] == "\x00" else None
        return (hm or m).start()
    hm = _HEAD_BACK.search(masked, 0, k)
    return hm.start() if hm else k


def operand_span(masked: str, lo: int = 0, hi: int | None = None,
                 stash=None):
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
        op = operand_fwd(masked, i, stash)
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


# ---------------------------------------------------------------------------
# Literal values
# ---------------------------------------------------------------------------


class Literal(NamedTuple):
    """A numeric literal operand, read.

    value: its exact value: NaN or Infinity for nan(), infinity() and
           those DOUBLE/REAL spellings. A CAST's is its source's value,
           before the cast; applying the cast is the caller's rule.
    type:  its Presto type, in the scanner's spellings.
    form:  'bare' (a numeric token, possibly signed or parenthesized),
           'typed' (T '<n>'), 'cast' (CAST('<n>' AS T), the lowered
           typed literal), 'numeric_cast' (CAST(<bare numeric> AS T))
           or 'call' (nan(), infinity())."""

    value: Decimal
    type: object
    form: str


_LIT_CAST = re.compile(
    r"CAST\s*\(\s*(?:(\x00s\d+\x00)|([+-]?)\s*"
    r"(\d+(?:\.\d+)?(?:[eE][+-]?\d+)?))\s+AS\b", re.IGNORECASE)
_LIT_CALL = re.compile(r"(nan|infinity)\s*\(", re.IGNORECASE)


def literal(masked: str, op, stash=None):
    """The Literal the scanned operand `op` over masked is, or None
    when it is none of the forms above, or a literal Presto rejects
    (INTEGER '1.5', TINYINT '300', DECIMAL 'x'). Only a bare numeric
    may be signed or parenthesized. The stash is needed for every form
    holding a string literal."""
    if op is None or op.ops:
        return None
    text = masked[op.start:op.end].strip()
    if op.lit:
        m = _NUM_FWD.search(text)
        value = Decimal(m.group(0))
        if text[:m.start()].count("-") % 2:
            value = -value
        return Literal(value, op.type, "bare")
    m = _TYPED_FWD.fullmatch(text)
    if m is not None:
        body = None if stash is None else lit_of(m.group(2), stash)
        t = None if body is None else _literal_type(body, m.group(1))
        return None if t is None else Literal(Decimal(body.strip()), t,
                                              "typed")
    m = _LIT_CAST.match(text)
    if m is not None and (decimal_of(op.type) or op.type in FLOATING):
        if m.group(1) is not None:
            body = None if stash is None else lit_of(m.group(1), stash)
            form = "cast"
        else:
            body, form = m.group(2) + m.group(3), "numeric_cast"
        if body is None:
            return None
        try:
            value = Decimal(body.strip())
        except InvalidOperation:
            return None
        if value.is_snan() or not (value.is_finite()
                                   or op.type in FLOATING):
            return None
        return Literal(value, op.type, form)
    m = _LIT_CALL.match(text)
    if m is not None and op.type == "double":
        return Literal(Decimal("NaN" if m.group(1).lower() == "nan"
                               else "Infinity"), "double", "call")
    return None


def literal_span(text: str, stash=None):
    """The Literal the whole of `text` is, modulo surrounding
    whitespace, or None."""
    return literal(text, operand_span(text, stash=stash), stash)
