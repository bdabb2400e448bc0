"""What every rewrite pass over MASKED SQL text shares.

Masked text is the front door's working form (frontend._mask): string
literals, quoted identifiers and comments sit in a stash and appear in
the text as \\x00<kind><n>\\x00 placeholders, so every paren, comma and
operator seen here is code.

- balanced / balanced_back: bracket matching in either direction.
- split_top: the top-level split on commas (or on another separator,
  `||` say); with angles=True '<' and '>' nest too, for type
  spellings. angle_close: the '>' closing a type spelling's '<'.
- ctor_at: the constructor reader. The head and the inside of an
  ARRAY[...], MAP(...), ROW(...), any other `head(...)` call or a bare
  paren group, and where it ends.
- split_cast: a CAST body's operand and target, split at its last
  top-level AS.
- stash_lit / lit_of: append a string literal to the stash, read one
  back.
- operand_fwd / operand_back / operand_span: the operand scanner, the
  one place a masked operand's extent and Presto static type are
  derived; decimal_cast_type reads a decimal CAST's (p, s) through it.
  unary_start extends an operand over the unary signs before it;
  skip_signs steps over the ones after an operator.
- literal / literal_span: the literal reader, the one place a numeric
  literal's exact value and Presto type are read. Every constant fold
  in the front door reads its literals here; INTEGRAL_RANGE is the one
  integral range table.

The scanner parses one grammar in both directions and reports an
operand's extent with three facts: its Presto static type, whether it
is a numeric literal, and which binary operators a parenthesized chain
holds. Untyped operands (names, calls and constructors with any head,
subscripts, typed literals of a non-numeric type) scan too, with type
None. Each rewrite pass keeps its own domain rules as filters on those
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


def split_top(s: str, sep: str = ",", angles: bool = False) -> list[str]:
    """Split on `sep` at bracket depth 0; parts come back stripped.
    With angles, '<' and '>' nest as brackets too: a type spelling
    (MAP<VARCHAR, ARRAY<INT>>), where they never compare."""
    opens, closes = ("([<", ")]>") if angles else ("([", ")]")
    parts, depth, start = [], 0, 0
    for j, c in enumerate(s):
        if c in opens:
            depth += 1
        elif c in closes:
            depth -= 1
        elif c == sep[0] and depth == 0 and j >= start \
                and s.startswith(sep, j):
            parts.append(s[start:j])
            start = j + len(sep)
    parts.append(s[start:])
    return [p.strip() for p in parts]


def angle_close(s: str, open_i: int) -> int:
    """Index just past the '>' closing the '<' at s[open_i] in a type
    spelling; '(' ')' nest inside it (ARRAY<DECIMAL(10, 2)>)."""
    depth = 0
    for k in range(open_i, len(s)):
        c = s[k]
        if c in "<(":
            depth += 1
        elif c in ">)":
            depth -= 1
            if depth == 0:
                if c == ">":
                    return k + 1
                break
    raise ValueError("unbalanced <> in a type")


class Ctor(NamedTuple):
    """A bracket group with its head, read by ctor_at.

    head:  the upper-cased head ('ARRAY', 'MAP', 'ROW', 'CAST', any
           call's name), '' for a bare paren group.
    inner: the text between the brackets.
    end:   the index just past the closing bracket."""

    head: str
    inner: str
    end: int

    @property
    def parts(self) -> list[str]:
        """The top-level comma parts of inner; [] when it is blank."""
        return split_top(self.inner) if self.inner.strip() else []


# ARRAY takes square brackets and nothing else does; a paren group's
# head is any identifier, or none
_CTOR_HEAD = re.compile(
    r"(ARRAY)\s*\[|(?!ARRAY\s*\()([A-Za-z_]\w*)?\s*\(", re.IGNORECASE)


def ctor_at(s: str, i: int = 0):
    """The Ctor starting exactly at s[i], or None: `ARRAY[...]`,
    `head(...)` or a bare `(...)`. None too when its bracket does not
    close. The group may end before the text does; a caller wanting
    the whole text compares end with its length."""
    m = _CTOR_HEAD.match(s, i)
    if m is None:
        return None
    try:
        end = balanced(s, m.end() - 1)
    except ValueError:
        return None
    return Ctor((m.group(1) or m.group(2) or "").upper(),
                s[m.end():end - 1], end)


_AS = re.compile(r"\bAS\s+", re.IGNORECASE)


def split_cast(body: str):
    """(operand, target) of a CAST whose parenthesized body is `body`,
    split at its last top-level AS and stripped; None without one."""
    cut, depth, k = None, 0, 0
    for m in _AS.finditer(body):
        for c in body[k:m.start()]:
            if c in "([":
                depth += 1
            elif c in ")]":
                depth -= 1
        k = m.start()
        if depth == 0:
            cut = m
    if cut is None:
        return None
    return body[:cut.start()].strip(), body[cut.end():].strip()


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
_NUM_FWD = re.compile(r"\d+(?:\.\d+)?(?:[eE][+-]?\d+)?")
# a numeric typed literal `T '<n>'` (SqlBase.g4 typeConstructor; no
# space needed before the quote)
_TYPED_HEADS = "TINYINT|SMALLINT|INTEGER|INT|BIGINT|REAL|DOUBLE|DECIMAL"
_TYPED_FWD = re.compile(rf"({_TYPED_HEADS})\s*(\x00s\d+\x00)", re.IGNORECASE)
_STR_FWD = re.compile(r"\s*\x00s\d+\x00")
_NAME_FWD = re.compile(r"[A-Za-z_]\w*(?:\.\w+)*")
# the last token before j: a numeric literal, a string placeholder or
# a (dotted) name
_TOKEN_BACK = re.compile(
    r"(?:\d+(?:\.\d+)?(?:[eE][+-]?\d+)?|\x00s\d+\x00"
    r"|(?<![\w.\x00])[A-Za-z_][\w.]*)$")
# the word a bracket group or a string placeholder may hang off
_HEAD_BACK = re.compile(r"(?<![\w.\x00])[A-Za-z_][\w.]*\s*$")
# SqlBase.g4's reserved words that never name an operand, head a call
# or head a typed literal (the call-shaped CAST, EXTRACT, EXISTS, ...
# and the literal NULL, TRUE, FALSE are operands)
_RESERVED = frozenset(
    "ALTER AND AS BETWEEN BY CASE CONSTRAINT CREATE CROSS CUBE "
    "DEALLOCATE DELETE DESCRIBE DISTINCT DROP ELSE END ESCAPE EXCEPT "
    "EXECUTE FOR FROM FULL GROUP HAVING IN INNER INSERT INTERSECT INTO "
    "IS JOIN LEFT LIKE NATURAL NOT ON OR ORDER OUTER PREPARE RECURSIVE "
    "RIGHT ROLLUP SELECT TABLE THEN UESCAPE UNION USING VALUES WHEN "
    "WHERE WITH".split())
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


def _skip_ws(masked: str, i: int) -> int:
    while i < len(masked) and masked[i].isspace():
        i += 1
    return i


def _skip_ws_back(masked: str, j: int) -> int:
    while j > 0 and masked[j - 1].isspace():
        j -= 1
    return j


def operand_fwd(masked: str, i: int, stash=None):
    """The operand starting at i (after any whitespace), or None.
    Typed forms: numeric literals, numeric typed literals `T '<n>'`,
    string literals, (TRY_)CAST(... AS T), count/sum/min/max/avg calls
    with an OVER suffix absorbed, nan()/infinity(), and parenthesized
    `+ - * / %` chains. Untyped forms (type None): a dotted name, a
    call with any head, a typed literal with any head, a bare paren
    group of two or more parts (a row), and any of these or a call
    with subscripts `[...]` after it (ARRAY[...] is a subscript of the
    name ARRAY). A reserved word declines, and so does an identifier
    or '.' just before the operand: the text is part of a longer name
    or a call. The stash is read only to type a DECIMAL '<n>'."""
    i = _skip_ws(masked, i)
    if i >= len(masked) or (i > 0 and masked[i - 1] in _IDENTCH):
        return None
    if masked[i] == "(":
        try:
            past = balanced(masked, i)
        except ValueError:
            return None
        inner = operand_span(masked, i + 1, past - 1, stash)
        if inner is not None:
            op = Operand(i, past, inner.type, inner.lit, inner.ops)
        elif len(split_top(masked[i + 1:past - 1])) > 1:
            op = Operand(i, past, None)
        else:
            return None
        return _subscripts(masked, op)
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
        if op is not None and m.group(1).upper() in _AGGREGATES:
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
        if op is not None:
            return _subscripts(masked, op)
    m = _NUM_FWD.match(masked, i)
    if m is not None:
        if m.end() < len(masked) and masked[m.end()] in _IDENTCH:
            return None
        t = _literal_type(m.group(0))
        return Operand(i, m.end(), t, True) if t is not None else None
    m = _STR_FWD.match(masked, i)
    if m is not None:
        return Operand(i, m.end(), "varchar")
    m = _NAME_FWD.match(masked, i)
    if m is None or m.group(0).upper() in _RESERVED:
        return None
    end = m.end()
    k = _skip_ws(masked, end)
    if masked[k:k + 1] == "(":
        try:
            end = balanced(masked, k)
        except ValueError:
            return None
    elif "." not in m.group(0):
        sm = _STR_FWD.match(masked, end)
        end = sm.end() if sm is not None else end
    return _subscripts(masked, Operand(i, end, None))


def _subscripts(masked: str, op):
    """op with the subscripts `[...]` written after it; untyped when
    there are any; None when one does not close."""
    k = _skip_ws(masked, op.end)
    if masked[k:k + 1] != "[":
        return op
    while masked[k:k + 1] == "[":
        try:
            end = balanced(masked, k)
        except ValueError:
            return None
        k = _skip_ws(masked, end)
    return Operand(op.start, end, None)


def operand_back(masked: str, j: int, stash=None):
    """The operand ending just before j (after any whitespace before
    j), or None. Reading back only finds where such an operand would
    start; the operand itself is operand_fwd's from there, kept when
    it ends exactly there, so both directions parse one grammar."""
    j = _skip_ws_back(masked, j)
    try:
        start = _start_back(masked, j)
    except ValueError:
        return None
    if start is None:
        return None
    op = operand_fwd(masked, start, stash)
    return op if op is not None and op.end == j else None


def unary_start(masked: str, start: int) -> int:
    """Where the operand starting at `start` begins once the unary
    signs written before it count in. SqlBase.g4 binds a unary sign
    tighter than every binary operator, and a '+' or '-' is unary when
    no operand ends just before it: no name, number, string or bracket
    group, only an operator, an opening bracket, a comma, a reserved
    word other than the END closing a CASE, or the start of the
    text."""
    while True:
        j = _skip_ws_back(masked, start)
        if j == 0 or masked[j - 1] not in "+-":
            return start
        p = _skip_ws_back(masked, j - 1)
        if p > 0 and (masked[p - 1] in _IDENTCH or masked[p - 1] in ")]"):
            hm = _HEAD_BACK.search(masked, 0, p)
            word = "" if hm is None else hm.group(0).upper()
            if word not in _RESERVED or word == "END":
                return start
        start = j - 1


def skip_signs(masked: str, i: int, hi: int | None = None) -> int:
    """The index past the whitespace and unary signs from i (before
    hi): where the operand they prefix starts."""
    if hi is None:
        hi = len(masked)
    while i < hi and (masked[i].isspace() or masked[i] in "+-"):
        i += 1
    return i


def _head_back(masked: str, k: int) -> int:
    """The start of the non-reserved word a bracket group or a string
    placeholder at k hangs off, else k."""
    hm = _HEAD_BACK.search(masked, 0, k)
    if hm is None or hm.group(0).rstrip().upper() in _RESERVED:
        return k
    return hm.start()


def _start_back(masked: str, j: int):
    """The start of the candidate operand ending at j: the trailing
    bracket group (with the groups it subscripts) and its head (or the
    aggregate call before an OVER window), else a numeric literal, a
    name, or a string placeholder with its typed-literal head."""
    if j <= 0:
        return None
    k = j
    while k > 0 and masked[k - 1] in ")]":
        closer = masked[k - 1]
        k = balanced_back(masked, k)
        h = _skip_ws_back(masked, k)
        if closer == ")" or not (h > 0 and masked[h - 1] in ")]"):
            break
        k = h
    wm = _OVER_BACK.search(masked, 0, k)
    if wm is not None:
        k = _skip_ws_back(masked, wm.start())
        if k == 0 or masked[k - 1] != ")":
            return None
        k = balanced_back(masked, k)
    elif k == j:
        m = _TOKEN_BACK.search(masked, 0, j)
        if m is None:
            return None
        return _head_back(masked, m.start()) \
            if masked[j - 1] == "\x00" else m.start()
    return _head_back(masked, k)


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
        i = skip_signs(masked, i, hi)  # negation keeps the type
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
