"""Scalar-function call templates: Presto functions whose Spark twin
needs argument RESTRUCTURING or a semantics shim, discovered while
porting the reference's per-function edge-value tests
(presto-main/src/test/.../operator/scalar/TestStringFunctions.java,
TestMathFunctions.java, TestBitwiseFunctions.java,
TestDateTimeFunctionsBase.java, type/TestArrayOperators.java).

Runs on MASKED text (string literals are \\x00s<idx>\\x00 placeholders;
see frontend._mask) with stash access, the same contract as
frontend's other passes. Literals the templates must READ (the unit
of date_add, a datetime format) are resolved from the stash; literals
the templates EMIT (error messages, converted patterns) are appended
to the stash so later passes never see raw quotes.

Semantics shims and why (each cites the reference behavior):

  chr(n)            Spark's char() is byte-modular (char(9731) is
                    '\\x03') — Presto CHR returns the Unicode code
                    point (StringFunctions.java chr). Lowered to an
                    explicit UTF-8 byte construction + decode, with
                    Presto's "Not a valid Unicode code point" guard.
  codepoint(s)      Presto requires a single-codepoint input
                    (INVALID_FUNCTION_ARGUMENT otherwise); Spark's
                    ascii() silently takes the first char. Guarded.
  bitwise_*         Presto exposes functions; Spark exposes operators
                    (& | ^ ~) and shift functions. 64-bit two's
                    complement in both (BitwiseFunctions.java).
  bit_count(x, b)   Presto's 2-arg form counts within a b-bit window
                    and raises when x is not representable in b bits;
                    Spark's 1-arg bit_count counts the full width.
  from_base/to_base conv() is unsigned 64-bit and silently accepts
                    invalid digits (conv('Z', 35, 10) = '0') — the
                    templates split the sign off, validate digits
                    against the radix, and go through DECIMAL(20,0)
                    so BIGINT overflow raises exactly where Presto's
                    does (MathFunctions.java fromBase/toBase).
  truncate(x[, n])  Spark's trunc() is date-only. x - (x % 1) keeps
                    the input's type family; the 2-arg decimal form
                    scales by a literal power of ten with floor/ceil
                    chosen by sign (MathFunctions.java truncate).
  date_parse        MySQL %-patterns -> java.time via the shared
  date_format       converter (functions/scalar.py
                    mysql_to_java_pattern). date_format only
                    rewrites when the literal contains '%' — a
                    %-free pattern is already java.time and belongs
                    to Spark's own date_format.
  format_datetime   Joda patterns -> java.time (joda_to_java_pattern;
  parse_datetime    Y/x are the moved letters).
  date_add/date_diff  unit-string forms -> timestampadd/timestampdiff
                    with Presto's unit vocabulary
                    (DateTimeFunctions.java getTimestampField); a
                    DATE literal input keeps DATE output for
                    calendar units.
  day_of_week/dow   Presto is ISO (Monday=1); Spark's dayofweek is
                    Sunday=1 (DateTimeFunctions.java dayOfWeek).
  regexp_extract    Presto's 2-arg form is group 0 and returns NULL
                    on no match; Spark defaults to group 1 and
                    returns ''. Both arities get a regexp_like guard
                    (RegexpFunctions: no match -> NULL). Remaining
                    documented divergence: a matched regex whose
                    GROUP did not participate is NULL in Presto, ''
                    here (not distinguishable post-hoc).
  array_min/max     Presto: any NULL element -> NULL, any NaN -> NaN,
                    NaN beats NULL (TestArrayOperators.java:599-618);
                    Spark skips NULLs and orders NaN largest. NaN is
                    detected via CAST(e AS STRING) = 'NaN', which is
                    type-agnostic (NaN = NaN is TRUE in Spark, so
                    e != e cannot detect it); a VARCHAR array holding
                    the literal string 'NaN' is the documented false
                    positive.
  hamming_distance  No Spark builtin; per-position compare over
                    sequence+substring with Presto's equal-length
                    guard (StringFunctions.java hammingDistance).

Arguments are substituted parenthesized and may be evaluated more
than once inside a template (standard macro caveat; all call sites in
the corpus pass columns or literals).
"""

from __future__ import annotations

import re

from presto_0_235_spark.sql.masked import (
    INTEGRAL, balanced, decimal_cast_type, is_decimal, lit_of,
    literal_span, operand_span, split_top, stash_lit)

_DATE_LIT = re.compile("^DATE\\s*\x00s\\d+\x00$", re.IGNORECASE)

_TEMPLATE_NAMES = (
    "apply",
    "bing_tiles_around",
    "geometry_union",
    "geometry_union_agg",
    "convex_hull_agg",
    "transform",
    "random",
    "rand",
    "sequence",
    "bitwise_and",
    "bitwise_or",
    "bitwise_xor",
    "bitwise_not",
    "bitwise_shift_left",
    "bitwise_logical_shift_right",
    "bitwise_arithmetic_shift_right",
    "bit_count",
    "from_base",
    "to_base",
    "truncate",
    "round",
    "ceil",
    "ceiling",
    "floor",
    "chr",
    "codepoint",
    "hamming_distance",
    "split",
    "split_part",
    "substr",
    "substring",
    "ln",
    "log2",
    "log10",
    "is_finite",
    "is_infinite",
    "date_parse",
    "date_format",
    "format_datetime",
    "parse_datetime",
    "date_add",
    "date_diff",
    "day_of_week",
    "dow",
    "year_of_week",
    "yow",
    "to_unixtime",
    "from_unixtime",
    "regexp_extract",
    "regexp_extract_all",
    "regexp_replace",
    "regexp_split",
    "array_min",
    "array_max",
    "element_at",
    "ngrams",
    "json_size",
    "json_array_length",
    "json_array_contains",
    "cardinality",
    "contains",
    "array_position",
    "json_parse",
    "json_format",
    "json_extract",
    "from_hex",
    "concat",
    "map_from_entries",
    "array_sort",
    "split_to_map",
    "to_utf8",
    "from_utf8",
    "normalize",
    "lpad",
    "rpad",
    "date_trunc",
    "hmac_sha256",
    "hmac_md5",
    "hmac_sha1",
    "hmac_sha512",
    "fail",
    "from_iso8601_date",
    "from_iso8601_timestamp",
    "to_iso8601",
    "millisecond",
    "timezone_hour",
    "timezone_minute",
    "current_timezone",
    "to_base64url",
    "from_base64url",
    "to_big_endian_32",
    "from_big_endian_32",
    "strrpos",
    "cosine_similarity",
    "is_json_scalar",
    "json_array_get",
    "wilson_interval_lower",
    "wilson_interval_upper",
    "split_to_multimap",
    "normal_cdf",
    "inverse_normal_cdf",
    "beta_cdf",
    "inverse_beta_cdf",
    "binomial_cdf",
    "chi_squared_cdf",
    "inverse_chi_squared_cdf",
    "poisson_cdf",
    "inverse_poisson_cdf",
    "md5",
    "sha1",
    "sha256",
    "sha512",
    "to_big_endian_64",
    "from_big_endian_64",
    "none_match",
    "combinations",
    "multimap_from_entries",
    "parse_presto_data_size",
    "from_ieee754_64",
    "from_ieee754_32",
    "parse_duration",
    "spooky_hash_v2_32",
    "spooky_hash_v2_64",
    "xxhash64",
    "combine_hash",
    "zip",
    "word_stem",
    "json_extract",
    "json_extract_scalar",
    "strpos",
    "trim",
    "ltrim",
    "rtrim",
    "replace",
    "length",
    "char_length",
    "levenshtein_distance",
    "greatest",
    "least",
    "mod",
    "width_bucket",
    "repeat",
    "bing_tile",
    "is_nan",
    "is_finite",
    "is_infinite",
    # aggregate templates (see the AGGREGATE TEMPLATES section of
    # _rewrite_one; window/FILTER call sites are left verbatim — the
    # replacements are CASE-compositions of several aggregates and
    # cannot carry an OVER clause)
    "sum",
    "avg",
    "skewness",
    "kurtosis",
    "corr",
    "entropy",
    "geometric_mean",
    "bitwise_and_agg",
    "bitwise_or_agg",
    "histogram",
    "map_agg",
    "multimap_agg",
    "map_union",
    "array_agg",
    "min_by",
    "max_by",
    "min",
    "max",
    "checksum",
    "lag",
    "lead",
    "approx_percentile",
)

# Aggregate-template names whose replacement is a multi-aggregate
# composition: a trailing OVER (window), FILTER, or WITHIN GROUP
# clause cannot be attached to the rewritten form, so those call
# sites keep Spark-native semantics (documented limitation — the
# reference corpus exercises the plain aggregate positions).
_AGG_TEMPLATE_NAMES = frozenset({
    "skewness", "kurtosis", "corr", "entropy", "geometric_mean",
    "histogram", "map_agg", "multimap_agg", "map_union", "array_agg",
    "min_by", "max_by", "min", "max", "checksum", "avg",
})
_AGG_SUFFIX_RE = re.compile(r"\s*(OVER|FILTER|WITHIN)\b", re.IGNORECASE)


def _static_arg_type(arg: str):
    """The Presto static type of a template argument that is one
    scanned expression (masked.operand_span), in masked's spellings
    ('int', 'double', ('decimal', p, s), ...); None otherwise."""
    op = operand_span(arg)
    return op.type if op is not None else None


def _float_round_n(x: str, n: int, kind: str, stash) -> str | None:
    """round(double/real, n) for a literal n != 0: the reference is
    ``Math.round(num * 10^n) / 10^n`` on the BINARY double with a
    sign split (MathFunctions.java:750-763; the REAL overload
    computes through double and narrows, :765-780) — NOT a decimal
    rounding: round(1.005E0, 2) = 1.0 there because 1.005 * 100 =
    100.49999999999999. The emitted factor literal must be
    bit-identical to Java's Math.pow(10, n): powers of ten through
    1E22 are exactly representable (Math.pow is exact on them), and
    for negative n the correctly-rounded Python ``10.0 ** n`` equals
    Math.pow on every |n| <= 22 (pinned against the session JVM by
    tests/test_numeric_column_semantics.py). |n| > 22 declines
    (exactness unproven; unpinned). Math.round saturates at
    Long.MAX_VALUE — the explicit 2^63 guard replays that. Inside
    the guard, Spark's scale-0 ROUND equals Math.round on every
    finite double (see the call-site comment)."""
    if abs(n) > 22:
        return None
    inf = stash_lit(stash, "Infinity")
    fl = f"1E{n}D" if n > 0 else f"{10.0 ** n!r}D"
    xs = f"CAST(({x}) AS DOUBLE)" if kind == "real" else f"({x})"

    def half(v: str) -> str:
        return (f"IF(({v}) * {fl} >= 9.223372036854776E18D, "
                f"9.223372036854776E18D / {fl}, "
                f"ROUND(({v}) * {fl}, 0) / {fl})")

    body = (f"(CASE WHEN isnan({xs}) OR abs({xs}) = "
            f"CAST({inf} AS DOUBLE) THEN {xs} "
            f"WHEN {xs} >= 0D THEN {half(xs)} "
            f"ELSE -({half(f'-{xs}')}) END)")
    if kind == "real":
        body = f"CAST({body} AS FLOAT)"
    return body


def _decimal_avg_window(args: list[str], over_text: str):
    """Windowed decimal AVG: ``avg(CAST(x AS DECIMAL(p,s))) OVER w``
    keeps (p, s) with HALF_UP rounding in the reference — the same
    DecimalAverageAggregation.java:197-207 accumulator serves window
    frames. Same widen-round-cast construction (and exactness
    bounds) as the plain-aggregate avg template below, with the OVER
    clause consumed inside the ROUND."""
    ps = decimal_cast_type(args[0])
    if ps is None:
        return None
    p, s = ps
    k = (34 - p) // 2
    if k < 2:
        return None
    return (f"CAST(ROUND(avg(CAST({args[0]} AS "
            f"DECIMAL({p + k}, {s + k}))) {over_text}, {s}) "
            f"AS DECIMAL({p}, {s}))")
_TOP_ORDER_BY_RE = re.compile(r"[()]|\bORDER\s+BY\b", re.IGNORECASE)


_SORT_ITEM_TAIL = re.compile(
    r"^(?P<key>.*?)(?:\s+(?P<dir>ASC|DESC))?"
    r"(?:\s+NULLS\s+(?P<nulls>FIRST|LAST))?$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_order_by_items(
    args: list[str],
) -> tuple[str, list[tuple[str, int, bool]]] | None:
    """Split ``array_agg``-style args into (value, sort keys).

    ``array_agg(x ORDER BY a, b DESC)`` reaches the template as
    ``["x ORDER BY a", "b DESC"]`` (the comma split is paren-aware
    but ORDER BY-blind). Returns the value expression and a list of
    (key, direction, nulls_last) with Presto's sort-item defaults
    (ASC, NULLS LAST — PlannerUtils.java:39-51), or None when the
    shape is not a plain value-plus-ORDER BY call."""
    first = args[0]
    m = None
    depth = 0
    for tok in re.finditer(r"[()]|\bORDER\s+BY\b", first, re.IGNORECASE):
        t = tok.group(0)
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            m = tok
            break
    if m is None:
        return (first.strip(), []) if len(args) == 1 else None
    value = first[: m.start()].strip()
    if not value:
        return None
    items = [first[m.end():]] + list(args[1:])
    keys: list[tuple[str, int, bool]] = []
    for item in items:
        sm = _SORT_ITEM_TAIL.match(item.strip())
        if sm is None or not sm.group("key").strip():
            return None
        direction = -1 if (sm.group("dir") or "").upper() == "DESC" else 1
        nulls = (sm.group("nulls") or "LAST").upper()
        keys.append((sm.group("key").strip(), direction, nulls == "LAST"))
    return value, keys


def _has_agg_modifier(args: list[str]) -> bool:
    """True when the call carries DISTINCT or a paren-depth-0 ORDER BY
    inside its argument list — those forms keep their existing
    lowering paths (frontend's order-by-in-aggregate pass)."""
    if args and args[0].lstrip().upper().startswith("DISTINCT "):
        return True
    for arg in args:
        depth = 0
        for m in _TOP_ORDER_BY_RE.finditer(arg):
            tok = m.group(0)
            if tok == "(":
                depth += 1
            elif tok == ")":
                depth -= 1
            elif depth == 0:
                return True
    return False

_SCALAR_CALL = re.compile(
    r"\b(" + "|".join(_TEMPLATE_NAMES) + r")\s*\(", re.IGNORECASE
)

# Presto date_add/date_diff unit vocabulary -> Spark timestampadd/
# timestampdiff unit keyword (DateTimeFunctions.java getTimestampField).
_DT_UNITS = {
    "millisecond": "MILLISECOND",
    "second": "SECOND",
    "minute": "MINUTE",
    "hour": "HOUR",
    "day": "DAY",
    "week": "WEEK",
    "month": "MONTH",
    "quarter": "QUARTER",
    "year": "YEAR",
}
_CALENDAR_UNITS = {"day", "week", "month", "quarter", "year"}


def _raise(msg_expr: str, out_type: str) -> str:
    return f"CAST(raise_error({msg_expr}) AS {out_type})"


_JSON_LIT_ROUNDTRIP = re.compile(
    r"^[\s(]*to_json\s*\(\s*(?:try_)?parse_json\s*\("
    r"(\x00s\d+\x00)\s*\)\s*\)[\s)]*$"
)


def _unwrap_json_literal(arg: str) -> str:
    """A JSON typed literal lowers to to_json(parse_json(lit)), whose
    variant round trip renders integral float tokens as ints
    ('[1.0]' -> '[1]') — losing the token KIND the reference's
    json_array_* functions dispatch on (its castFromVarchar
    canonicalization preserves kinds, JsonOperators.java). For
    templates that only READ the document, the raw literal text is
    kind-equivalent input: unwrap it."""
    m = _JSON_LIT_ROUNDTRIP.match(arg)
    return m.group(1) if m else arg


def _decimal_literal(arg: str, stash):
    """The Literal when arg is a lowered DECIMAL literal, CAST('<n>' AS
    DECIMAL(p, s)) as the typed-literal pass emits it, else None."""
    lit = literal_span(arg, stash)
    return lit if lit and lit.form == "cast" and is_decimal(lit.type) \
        else None


def _chr_template(n: str, stash: list[tuple[str, str]]) -> str:
    """Unicode code point -> string via explicit UTF-8 bytes."""
    bad = _raise(
        f"concat({stash_lit(stash, 'Not a valid Unicode code point: ')}, "
        f"CAST({n} AS STRING))",
        "STRING",
    )
    utf8 = stash_lit(stash, "UTF-8")
    zero = stash_lit(stash, "0")
    return (
        f"(CASE WHEN {n} < 0 OR {n} > 1114111 THEN {bad} "
        f"WHEN {n} < 128 THEN decode(unhex(lpad(hex({n}), 2, {zero})), {utf8}) "
        f"WHEN {n} < 2048 THEN decode(unhex(concat(hex(192 + {n} div 64), "
        f"hex(128 + {n} % 64))), {utf8}) "
        f"WHEN {n} < 65536 THEN decode(unhex(concat(hex(224 + {n} div 4096), "
        f"hex(128 + ({n} div 64) % 64), hex(128 + {n} % 64))), {utf8}) "
        f"ELSE decode(unhex(concat(hex(240 + {n} div 262144), "
        f"hex(128 + ({n} div 4096) % 64), hex(128 + ({n} div 64) % 64), "
        f"hex(128 + {n} % 64))), {utf8}) END)"
    )


def _rewrite_one(
    name: str, args: list[str], stash: list[tuple[str, str]]
) -> str | None:
    """The Spark expression for one call, or None to leave verbatim."""
    a = [f"({x.strip()})" for x in args]

    if name == "apply" and len(args) == 2:
        # Presto apply(input, function) is plain application
        # (LambdaFunctions.java) — inline the lambda body with the
        # variable substituted. This sidesteps Spark's
        # LAMBDA_FUNCTION_WITH_PYTHON_UDF refusal for the geometry
        # UDFs the reference tests wrap in apply(g -> ...).
        lam = re.match(
            r"^\s*\(?\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)?\s*->(.*)$",
            args[1], re.DOTALL)
        if lam:
            var, body = lam.group(1), lam.group(2)
            return "(" + re.sub(
                rf"\b{re.escape(var)}\b", lambda _m: a[0], body
            ).strip() + ")"
        return None

    if name == "transform" and len(args) == 2:
        # transform(arr, x -> F(x)) where F is a Python-UDF-backed
        # 1-arg geometry function: Spark refuses Python UDFs inside
        # higher-order-function lambdas, so route through the
        # array-mapped twin F_each(arr) registered in udfs.py.
        lam = re.match(
            r"^\s*\(?\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)?\s*->\s*"
            r"([A-Za-z_][A-Za-z0-9_]*)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)"
            r"\s*\)\s*$",
            args[1])
        if lam and lam.group(1) == lam.group(3):
            fn = lam.group(2).lower()
            from presto_0_235_spark.functions.udfs import \
                GEO_ONE_ARG_SQL_NAMES

            if fn in GEO_ONE_ARG_SQL_NAMES:
                mapped = ("bing_tile_qk" if fn == "bing_tile_quadkey"
                          else fn)
                return f"{mapped}_each({a[0]})"
        return None

    if name == "bitwise_and" and len(a) == 2:
        return f"(CAST({a[0]} AS BIGINT) & CAST({a[1]} AS BIGINT))"
    if name == "bitwise_or" and len(a) == 2:
        return f"(CAST({a[0]} AS BIGINT) | CAST({a[1]} AS BIGINT))"
    if name == "bitwise_xor" and len(a) == 2:
        return f"(CAST({a[0]} AS BIGINT) ^ CAST({a[1]} AS BIGINT))"
    if name == "bitwise_not" and len(a) == 1:
        return f"(~CAST({a[0]} AS BIGINT))"

    if name in (
        "bitwise_shift_left",
        "bitwise_logical_shift_right",
        "bitwise_arithmetic_shift_right",
    ):
        if name == "bitwise_arithmetic_shift_right" and len(a) != 2:
            return None
        if name != "bitwise_arithmetic_shift_right" and len(a) != 3:
            return None
        x = f"CAST({a[0]} AS BIGINT)"
        s = f"CAST({a[1]} AS INT)"
        neg = _raise(
            stash_lit(stash, "Shift must be non-negative"), "BIGINT"
        )
        if name == "bitwise_arithmetic_shift_right":
            body = f"shiftright({x}, {s})"
        else:
            bits = f"CAST({a[2]} AS INT)"
            mask = f"(shiftleft(CAST(1 AS BIGINT), {bits}) - 1)"
            if name == "bitwise_shift_left":
                body = (
                    f"(CASE WHEN {bits} = 64 THEN shiftleft({x}, {s}) "
                    f"ELSE shiftleft({x}, {s}) & {mask} END)"
                )
            else:  # logical right: mask to the window first, then >>
                body = (
                    f"(CASE WHEN {bits} = 64 THEN shiftrightunsigned({x}, {s}) "
                    f"ELSE shiftright({x} & {mask}, {s}) END)"
                )
        return f"(CASE WHEN {s} < 0 THEN {neg} ELSE {body} END)"

    if name == "bit_count" and len(a) == 2:
        # 1-arg bit_count is Spark's own (same semantics) — only the
        # windowed 2-arg form needs the template.
        x = f"CAST({a[0]} AS BIGINT)"
        bits = f"CAST({a[1]} AS INT)"
        bad_bits = _raise(
            f"concat({stash_lit(stash, 'Bits specified in bit_count must be between 2 and 64, got ')}, "
            f"CAST({bits} AS STRING))",
            "BIGINT",
        )
        bad_val = _raise(
            f"concat(CAST({x} AS STRING), "
            f"{stash_lit(stash, ' can not be represented with ')}, "
            f"CAST({bits} AS STRING), {stash_lit(stash, ' bits')})",
            "BIGINT",
        )
        lo = f"(-shiftleft(CAST(1 AS BIGINT), {bits} - 1))"
        hi = f"(shiftleft(CAST(1 AS BIGINT), {bits} - 1) - 1)"
        mask = f"(shiftleft(CAST(1 AS BIGINT), {bits}) - 1)"
        return (
            f"(CASE WHEN {bits} < 2 OR {bits} > 64 THEN {bad_bits} "
            f"WHEN {bits} = 64 THEN CAST(bit_count({x}) AS BIGINT) "
            f"WHEN {x} BETWEEN {lo} AND {hi} "
            f"THEN CAST(bit_count({x} & {mask}) AS BIGINT) "
            f"ELSE {bad_val} END)"
        )

    if name == "from_base" and len(a) == 2:
        s, r = a[0], f"CAST({a[1]} AS INT)"
        bad_radix = _raise(
            f"concat({stash_lit(stash, 'Radix must be between 2 and 36, got ')}, "
            f"CAST({r} AS STRING))",
            "BIGINT",
        )
        bad_digit = _raise(
            f"concat({stash_lit(stash, 'Not a valid base-')}, "
            f"CAST({r} AS STRING), {stash_lit(stash, ' number: ')}, {s})",
            "BIGINT",
        )
        body = f"regexp_replace({s}, {stash_lit(stash, '^-')}, {stash_lit(stash, '')})"
        # Per-char value check against the radix: digits then letters.
        digit_ok = (
            f"forall(split(lower({body}), {stash_lit(stash, '')}), "
            "c -> (CASE WHEN ascii(c) BETWEEN 48 AND 57 THEN ascii(c) - 48 "
            "WHEN ascii(c) BETWEEN 97 AND 122 THEN ascii(c) - 87 "
            f"ELSE 99 END) < {r})"
        )
        magnitude = f"CAST(conv({body}, {r}, 10) AS DECIMAL(20, 0))"
        signed = (
            f"(CASE WHEN substring({s}, 1, 1) = {stash_lit(stash, '-')} "
            f"THEN -{magnitude} ELSE {magnitude} END)"
        )
        return (
            f"(CASE WHEN {r} < 2 OR {r} > 36 THEN {bad_radix} "
            f"WHEN length({body}) = 0 OR NOT {digit_ok} THEN {bad_digit} "
            f"ELSE CAST({signed} AS BIGINT) END)"
        )

    if name == "to_base" and len(a) == 2:
        x, r = f"CAST({a[0]} AS BIGINT)", f"CAST({a[1]} AS INT)"
        bad_radix = _raise(
            f"concat({stash_lit(stash, 'Radix must be between 2 and 36, got ')}, "
            f"CAST({r} AS STRING))",
            "STRING",
        )
        return (
            f"(CASE WHEN {r} < 2 OR {r} > 36 THEN {bad_radix} "
            # magnitude via DECIMAL(20,0) *string* so Long.MIN_VALUE
            # (-2^63, whose magnitude overflows BIGINT under ANSI)
            # renders '-8000000000000000' like Presto's toBase
            f"WHEN {x} < 0 THEN concat({stash_lit(stash, '-')}, "
            f"lower(conv(CAST(-CAST({x} AS DECIMAL(20, 0)) AS STRING), 10, {r}))) "
            f"ELSE lower(conv({x}, 10, {r})) END)"
        )

    if name == "round" and len(a) in (1, 2):
        # Decimal round has TWO distinct signatures in the reference
        # (both in MathFunctions.java): the 1-arg Round is
        # decimal(min(38, p - s + min(1, s)), 0) — rounds to an
        # INTEGER (Round.roundShort, :788-792 constraints) — while
        # the 2-arg RoundN KEEPS (p, s) at precision min(38, p+1)
        # with digits past position n zeroed (:838-840 constraints).
        # Both round HALF_UP away from zero. (The r13 fold applied
        # the RoundN rule to both arities; the r16 value-pin
        # extraction caught it — TestMathFunctions.java:798-840 pins
        # round(DECIMAL '0.1') = 0 at decimal(1,0).)
        # A bare parenthesized argument is the double->integral cast
        # rewrite's own ROUND((x)) emission, already Presto's
        # rounding: it is not rewritten again.
        op0 = operand_span(args[0])
        t0 = None if op0 is None or (
            not op0.ops and args[0].lstrip()[:1] == "(") else op0.type
        if t0 in ("double", "real"):
            # Presto's float round is sign-aware — num < 0 computes
            # -(round(-num, n)) (MathFunctions.java:757-763), so
            # round(-0.3E0) is NEGATIVE zero where Spark's
            # BigDecimal path loses the sign.
            x = a[0]
            if len(a) == 2:
                try:
                    n = int(args[1].strip())
                except ValueError:
                    n = None
                if n is not None and n != 0:
                    # non-zero scale: the reference computes
                    # Math.round(num * 10^n) / 10^n on the BINARY
                    # double (round(1.005E0, 2) = 1.0 because
                    # 1.005 * 100 = 100.49999999999999), while
                    # Spark's ROUND rounds the decimal shortest
                    # repr (1.01) — replicate the factor hop
                    # (r17, ADVICE r16 #3)
                    emitted = _float_round_n(x, n, t0, stash)
                    if emitted is not None:
                        return emitted
            # scale 0 (1-arg is round(x, 0)): Spark's ROUND —
            # BigDecimal HALF_UP on the shortest decimal repr — is
            # value-identical to Math.round on the binary double:
            # the shortest repr round-trips, so ordering against
            # the representable n+0.5 tie boundary is preserved
            # (probed incl. the JDK-6430675 edge). Non-literal
            # scale expressions keep this spelling too (documented
            # residual: a runtime scale can't pick a factor
            # literal at translate time).
            tail = f", {a[1]}" if len(a) == 2 else ""
            return (f"(CASE WHEN ({x}) >= 0 THEN ROUND(({x}){tail}) "
                    f"ELSE -ROUND(-({x}){tail}) END)")
        null_n = len(a) == 2 and (
            args[1].strip().upper() == "NULL"
            or re.fullmatch(r"CAST\s*\(\s*NULL\s+AS\s+\w+\s*\)",
                            args[1].strip(), re.IGNORECASE))
        dec = _decimal_literal(args[0], stash)
        if null_n:
            # a NULL round scale keeps RoundN's result TYPE
            # (min(38, p+1), s) with a NULL value
            # (TestMathFunctions.java:938)
            ps = dec.type[1:] if dec else decimal_cast_type(args[0])
            if ps is None:
                return None
            p, s = ps
            return f"CAST(NULL AS DECIMAL({min(38, p + 1)}, {s}))"
        if dec is None:
            # r16 (verdict #6): a statically-typed decimal COLUMN
            # cast (the annotation pass's CAST(col AS DECIMAL(p,s))
            # form, or a bare-numeric literal cast) rewrites at
            # runtime. Spark's ROUND on decimals is the same HALF_UP
            # away-from-zero, so value semantics ride the built-in;
            # the outer cast carries the reference type and can
            # never overflow (the rounded magnitude needs at most
            # p-s+1 integer digits).
            ps = decimal_cast_type(args[0])
            if ps is None:
                return None
            p, s = ps
            if len(a) == 1:
                rp = min(38, p - s + min(1, s))
                return (f"CAST(ROUND({a[0]}, 0) "
                        f"AS DECIMAL({rp}, 0))")
            try:
                n = int(args[1].strip())
            except ValueError:
                return None
            rp = min(38, p + 1)
            if n >= s:
                return f"CAST({a[0]} AS DECIMAL({rp}, {s}))"
            return (f"CAST(ROUND({a[0]}, {n}) "
                    f"AS DECIMAL({rp}, {s}))")
        if len(a) == 2:
            try:
                n = int(args[1].strip())
            except ValueError:
                return None
        else:
            n = None
        from decimal import ROUND_HALF_UP, Decimal, localcontext

        v, (_, p, s) = dec.value, dec.type
        with localcontext() as ctx:
            ctx.prec = 90
            if n is None:
                rp, rs = min(38, p - s + min(1, s)), 0
                r = v.to_integral_value(rounding=ROUND_HALF_UP)
            else:
                rp, rs = min(38, p + 1), s
                if n >= s:
                    r = v
                else:
                    r = v.scaleb(n).to_integral_value(
                        rounding=ROUND_HALF_UP).scaleb(-n)
            r = r.quantize(Decimal(1).scaleb(-rs))
            unscaled = int(r.scaleb(rs))
        if abs(unscaled) >= 10 ** rp:
            return _raise(
                stash_lit(stash, "Decimal overflow"),
                f"DECIMAL({rp}, {rs})")
        return (f"CAST({stash_lit(stash, str(r))} "
                f"AS DECIMAL({rp}, {rs}))")

    if name == "truncate" and len(a) in (1, 2):
        # DECIMAL-literal truncate folds with the reference's
        # semantics (MathFunctions.java truncate/truncateN over
        # decimals; TestMathFunctions.java:254-282): 1-arg yields
        # decimal(max(p-s,1), 0) toward zero; 2-arg KEEPS (p, s) and
        # zeroes digits beyond position n (negative n truncates
        # integer digits) — Spark has no decimal-scale-keeping twin.
        if args[0].strip().upper() == "NULL":
            # untyped NULL resolves to the decimal signature at the
            # default decimal(1,0) (TestMathFunctions.java:310
            # truncate(NULL, NULL) = NULL decimal(1,0))
            return "CAST(NULL AS DECIMAL(1, 0))"
        dl = _decimal_literal(args[0], stash)
        ps = None if dl else decimal_cast_type(args[0])
        if ps is not None:
            # r16 (verdict #6): statically-typed decimal CASTs
            # (columns, NULL casts, bare-numeric literal casts)
            # rewrite at runtime — truncation toward zero is
            # x - (x % 10^n), exact in decimal arithmetic, and the
            # outer cast carries the reference type
            p, s = ps
            if len(a) == 1:
                rp = max(1, p - s)
                if s == 0:
                    return f"CAST({a[0]} AS DECIMAL({rp}, 0))"
                return (f"CAST(({a[0]}) - (({a[0]}) % 1) "
                        f"AS DECIMAL({rp}, 0))")
            try:
                n = int(args[1].strip())
            except ValueError:
                return None
            if n >= s:
                return f"CAST({a[0]} AS DECIMAL({p}, {s}))"
            mod = str(10 ** -n) if n <= 0 else \
                "0." + "0" * (n - 1) + "1"
            return (f"CAST(({a[0]}) - (({a[0]}) % {mod}) "
                    f"AS DECIMAL({p}, {s}))")
        if dl is not None:
            from decimal import ROUND_DOWN, Decimal, localcontext

            v, (_, p, s) = dl.value, dl.type
            n = None
            if len(a) == 2:
                try:
                    n = int(args[1].strip())
                except ValueError:
                    dl = None
            if dl is not None:
                with localcontext() as ctx:
                    ctx.prec = 90
                    if n is None:
                        rp, rs = max(p - s, 1), 0
                        r = v.quantize(Decimal(1), rounding=ROUND_DOWN)
                    else:
                        rp, rs = p, s
                        if n >= s:
                            r = v
                        else:
                            r = v.scaleb(n).to_integral_value(
                                rounding=ROUND_DOWN).scaleb(-n)
                        r = r.quantize(Decimal(1).scaleb(-rs))
                return (f"CAST({stash_lit(stash, str(r))} "
                        f"AS DECIMAL({rp}, {rs}))")

    if name == "truncate" and len(a) == 1:
        # MathFunctions truncate(double) is signum(x) * floor(abs(x))
        # — truncate(-0.3) is NEGATIVE zero (r17; the plain
        # x - (x % 1) spelling loses the sign). x = ±0 returns x
        # itself; the negative branch computes on -x and negates.
        x = a[0]
        case = (
            f"(CASE WHEN isnan({x}) OR abs({x}) = CAST({stash_lit(stash, 'Infinity')} AS DOUBLE) "
            f"OR ({x}) = 0D THEN {x} "
            f"WHEN ({x}) > 0D THEN ({x}) - (({x}) % 1) "
            f"ELSE -((-({x})) - ((-({x})) % 1)) END)"
        )
        if _static_arg_type(args[0]) == "real":
            # truncate(REAL) keeps REAL in the reference
            # (MathFunctions.java:324) — the double-computed
            # truncation narrows exactly (integral float32 range)
            return f"CAST({case} AS FLOAT)"
        return case
    if name == "truncate" and len(a) == 2:
        n_lit = args[1].strip()
        try:
            n = int(n_lit)
        except ValueError:
            return None  # non-literal scale: no SQL template
        x = a[0]
        p = 10 ** abs(n)
        if n >= 0:
            down, up = f"floor({x} * {p}) / {p}", f"ceil({x} * {p}) / {p}"
        else:
            down, up = f"floor({x} / {p}) * {p}", f"ceil({x} / {p}) * {p}"
        return f"(CASE WHEN {x} >= 0 THEN {down} ELSE {up} END)"

    if name in ("ceil", "ceiling", "floor") and len(a) == 1:
        # ceil/ceiling/floor PRESERVE the argument type in the
        # reference (MathFunctions.java:135-171, 360-384 — tinyint
        # through bigint are identity, double->double, real->real)
        # where Spark's ceil/floor return BIGINT. Integral and
        # scale-0-decimal args are identity; float args compute via
        # the builtin then restore the type, with NaN/Infinity and
        # the already-integral range (|x| >= 2^52 double / 2^23
        # float32) passed through untouched. Negative zero survives
        # (r17 — Java Math.ceil(-0.5) is -0.0, Math.floor(-0.0) is
        # -0.0, where CAST(CEIL(x) AS DOUBLE) loses the sign):
        # x = ±0 returns x itself, and the negative branch computes
        # through the mirrored builtin so a zero result carries the
        # negated sign (-CAST(FLOOR(0.5) AS DOUBLE) = -0.0).
        # Non-static args keep Spark's derivation (annotated columns
        # and VALUES-typed doubles arrive statically typed — r17
        # verdict #1; compound expressions remain the residual).
        t = _static_arg_type(args[0])
        is_floor = name == "floor"
        fn, mirror = ("FLOOR", "CEIL") if is_floor else ("CEIL",
                                                         "FLOOR")
        x = a[0]
        if t in INTEGRAL or (is_decimal(t) and t[2] == 0):
            return f"({x})"
        if t == "double":
            return (f"(CASE WHEN isnan({x}) OR abs({x}) >= "
                    f"4.503599627370496E15D THEN {x} "
                    f"WHEN ({x}) = 0D THEN ({x}) "
                    f"WHEN ({x}) > 0D THEN CAST({fn}({x}) AS DOUBLE) "
                    f"ELSE -CAST({mirror}(-({x})) AS DOUBLE) END)")
        if t == "real":
            return (f"CAST((CASE WHEN isnan({x}) OR abs({x}) >= "
                    f"CAST(8388608 AS DOUBLE) THEN CAST({x} AS DOUBLE) "
                    f"WHEN ({x}) = 0D THEN CAST({x} AS DOUBLE) "
                    f"WHEN ({x}) > 0D THEN CAST({fn}({x}) AS DOUBLE) "
                    f"ELSE -CAST({mirror}(-({x})) AS DOUBLE) END) "
                    f"AS FLOAT)")
        return None

    if name == "chr" and len(a) == 1:
        return _chr_template(a[0], stash)

    if name == "codepoint" and len(a) == 1:
        s = a[0]
        bad = _raise(
            f"concat({stash_lit(stash, 'Input string must be exactly one codepoint: ')}, {s})",
            "INT",
        )
        return (
            f"(CASE WHEN length({s}) = 1 THEN ascii({s}) "
            f"WHEN {s} IS NULL THEN CAST(NULL AS INT) ELSE {bad} END)"
        )

    if name == "hamming_distance" and len(a) == 2:
        x, y = a
        bad = _raise(
            stash_lit(
                stash,
                "The input strings to hamming_distance function must "
                "have the same length",
            ),
            "BIGINT",
        )
        return (
            f"(CASE WHEN {x} IS NULL OR {y} IS NULL THEN CAST(NULL AS BIGINT) "
            f"WHEN length({x}) <> length({y}) THEN {bad} "
            f"WHEN length({x}) = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE CAST(size(filter(sequence(1, length({x})), "
            f"i -> substring({x}, i, 1) <> substring({y}, i, 1))) AS BIGINT) END)"
        )

    if name == "split" and len(a) in (2, 3):
        # Presto's delimiter is a LITERAL string
        # (StringFunctions.java split uses indexOf); Spark's is a
        # Java regex — quote it. A literal delimiter is escaped at
        # rewrite time; an expression goes through \\Q...\\E (the
        # one caveat: a delimiter VALUE containing \\E, which no
        # sane delimiter does).
        d_lit = lit_of(args[1], stash)
        if d_lit is not None:
            quoted = stash_lit(
                stash, re.sub(r"([\\.\[\]{}()*+?^$|-])", r"\\\1", d_lit)
            )
        else:
            q, e = stash_lit(stash, "\\Q"), stash_lit(stash, "\\E")
            quoted = f"concat({q}, {a[1]}, {e})"
        if len(a) == 3:
            # StringFunctions.java:411-412 limit validation (r13
            # leniency conversion: Spark's split treats limit<=0 as
            # 'no limit')
            badpos = _raise(stash_lit(stash, "Limit must be positive"),
                            "INT")
            badbig = _raise(stash_lit(stash, "Limit is too large"),
                            "INT")
            lim = (f", (CASE WHEN ({a[2]}) <= 0 THEN {badpos} "
                   f"WHEN ({a[2]}) > 2147483647 THEN {badbig} "
                   f"ELSE CAST(({a[2]}) AS INT) END)")
        else:
            lim = ""
        return f"split({a[0]}, {quoted}{lim})"

    if name in ("trim", "ltrim", "rtrim") and len(a) in (1, 2):
        # Presto's 2-arg trims are (string, trim-character-set)
        # (StringFunctions.java leftTrim/rightTrim/trim with the
        # CodePointsType second argument) while Spark's same-named
        # builtins take (trimStr, str) — ARGS REVERSED. Passing
        # through unswapped trimmed the wrong operand: LTRIM('
        # hello  ', ' ') returned '' (the whole first argument
        # consumed as the trim set). TestStringFunctions.java:
        # 699-858 pin the parametrized forms. The 1-arg forms trim
        # Character.isWhitespace code points (airlift
        # SliceUtf8.leftTrim/rightTrim) where Spark trims U+0020
        # only — TestStringFunctions.java:616-679 pin U+2028; spell
        # the Java whitespace set as the trim set. (r16 — both found
        # by the value-pin extraction.)
        if len(a) == 2:
            return f"{name}({a[1]}, {a[0]})"
        ws = stash_lit(stash, (
            "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f "
            "\u1680\u2000\u2001\u2002\u2003\u2004"
            "\u2005\u2006\u2008\u2009\u200a\u2028"
            "\u2029\u205f\u3000"))
        return f"{name}({ws}, {a[0]})"

    if name == "replace" and len(a) == 3:
        # an EMPTY search string inserts the replacement at every
        # boundary including both ends in the reference
        # (StringFunctions.java replace; TestStringFunctions.java:
        # 230-231 REPLACE('abc', '', 'xx') = 'xxaxxbxxcxx') where
        # Spark's replace is a no-op. Java's empty-pattern
        # replaceAll has exactly those semantics, so literal-empty
        # search args lower to regexp_replace (with the replacement
        # escaped for its $group/backslash syntax); non-literal
        # search args stay Spark-native (residual: a runtime-empty
        # search no-ops).
        s_lit = lit_of(args[1], stash)
        r_lit = lit_of(args[2], stash)
        if s_lit == "" and r_lit is not None:
            rep = stash_lit(
                stash, r_lit.replace("\\", "\\\\").replace("$", "\\$"))
            empty = stash_lit(stash, "")
            return f"regexp_replace({a[0]}, {empty}, {rep})"
        return None

    if name in ("length", "char_length",
                "levenshtein_distance") and len(a) in (1, 2):
        # BIGINT in the reference (StringFunctions.java length /
        # levenshteinDistance return @SqlType BIGINT) where Spark's
        # are INT — a type-only divergence the value-pin corpus
        # checks (r16)
        return f"CAST({name}({', '.join(a)}) AS BIGINT)"

    if name == "split_part" and len(a) == 3:
        # Presto: literal delimiter, NULL past the last field, error
        # on index <= 0 (StringFunctions.java:453 'Index must be
        # greater than zero' — negative-index raise is an r13
        # leniency conversion; Spark's split_part counts from the
        # end). try_element_at keeps genuinely-empty fields as ''.
        d_lit = lit_of(args[1], stash)
        if d_lit is not None:
            quoted = stash_lit(
                stash, re.sub(r"([\\.\[\]{}()*+?^$|-])", r"\\\1", d_lit)
            )
        else:
            q, e = stash_lit(stash, "\\Q"), stash_lit(stash, "\\E")
            quoted = f"concat({q}, {a[1]}, {e})"
        badix = _raise(
            stash_lit(stash, "Index must be greater than zero"),
            "INT")
        ix = (f"(CASE WHEN ({a[2]}) <= 0 THEN {badix} "
              f"ELSE CAST(({a[2]}) AS INT) END)")
        if d_lit == "":
            # empty delimiter splits into codepoints and a past-end
            # index is NULL — an EMPTY string has zero codepoints, so
            # every index is past the end (split_part('', '', 1) =
            # NULL, TestStringFunctions.java:562), where Spark's
            # split('', '') yields ['']. The index raise still fires
            # first ({ix} carries it and is evaluated either way).
            return (f"IF(length({a[0]}) = 0 AND {ix} > 0, "
                    f"CAST(NULL AS STRING), "
                    f"try_element_at(split({a[0]}, {quoted}), {ix}))")
        return f"try_element_at(split({a[0]}, {quoted}), {ix})"

    if name in ("substr", "substring"):
        # Presto: start 0 or start < -length(s) -> ''
        # (StringFunctions.java substr); Spark returns the whole
        # string for both. Handles both the comma form and the
        # SUBSTRING(x FROM a [FOR b]) keyword form.
        if len(a) == 1:
            m_from = re.split(
                r"\s+FROM\s+", args[0].strip(), maxsplit=1, flags=re.IGNORECASE
            )
            if len(m_from) != 2:
                return None
            rest = re.split(
                r"\s+FOR\s+", m_from[1].strip(), maxsplit=1, flags=re.IGNORECASE
            )
            parts = [m_from[0], rest[0]] + rest[1:]
            a = [f"({x.strip()})" for x in parts]
        if len(a) not in (2, 3):
            return None
        s, start = a[0], a[1]
        tail = f", {a[2]}" if len(a) == 3 else ""
        empty = stash_lit(stash, "")
        return (
            f"(CASE WHEN {start} = 0 OR {start} < -length({s}) THEN {empty} "
            f"ELSE substr({s}, {start}{tail}) END)"
        )

    if name in ("ln", "log2", "log10") and len(a) == 1:
        # Presto: ln(0) = -Infinity, ln(negative) = NaN
        # (MathFunctions.java ln); Spark returns NULL for both.
        x = a[0]
        ninf = f"CAST({stash_lit(stash, '-Infinity')} AS DOUBLE)"
        nan = f"CAST({stash_lit(stash, 'NaN')} AS DOUBLE)"
        return (
            f"(CASE WHEN {x} = 0 THEN {ninf} WHEN {x} < 0 THEN {nan} "
            f"ELSE {name}({x}) END)"
        )

    if name in ("is_finite", "is_infinite") and len(a) == 1:
        x = f"CAST({a[0]} AS DOUBLE)"
        inf = f"CAST({stash_lit(stash, 'Infinity')} AS DOUBLE)"
        if name == "is_infinite":
            return f"(abs({x}) = {inf})"
        return f"(abs({x}) <> {inf} AND NOT isnan({x}))"

    if name in ("date_parse", "date_format", "format_datetime", "parse_datetime"):
        if len(a) != 2:
            return None
        fmt = lit_of(args[1], stash)
        if fmt is None:
            return None  # non-literal pattern: no source-level rewrite
        from presto_0_235_spark.functions.scalar import (
            joda_to_java_pattern,
            mysql_to_java_pattern,
        )

        if name in ("date_parse", "date_format"):
            # ALWAYS MySQL-converted — Presto date_format treats every
            # non-% char as a literal ('foo' formats to "foo";
            # DateTimeFunctions.java default case), so a %-free
            # passthrough to Spark's java.time pattern would be wrong.
            java = mysql_to_java_pattern(fmt)
        else:
            java = joda_to_java_pattern(fmt)
        ph = stash_lit(stash, java)
        fn = (
            "to_timestamp"
            if name in ("date_parse", "parse_datetime")
            else "date_format"
        )
        return f"{fn}({a[0]}, {ph})"

    if name in ("date_add", "date_diff"):
        if len(a) != 3:
            return None
        unit = lit_of(args[0], stash)
        if unit is None or unit.lower() not in _DT_UNITS:
            return None
        spark_unit = _DT_UNITS[unit.lower()]
        if name == "date_diff":
            return f"CAST(timestampdiff({spark_unit}, {a[1]}, {a[2]}) AS BIGINT)"
        body = f"timestampadd({spark_unit}, {a[1]}, {a[2]})"
        if (
            _DATE_LIT.match(args[2].strip())
            and unit.lower() in _CALENDAR_UNITS
        ):
            return f"CAST({body} AS DATE)"  # DATE in -> DATE out
        return body

    if name in ("day_of_week", "dow") and len(a) == 1:
        return f"((dayofweek({a[0]}) + 5) % 7 + 1)"

    if name == "to_unixtime" and len(a) == 1:
        # DOUBLE seconds incl. millis fraction
        # (DateTimeFunctions.java toUnixTime) — Spark CAST(ts AS
        # DOUBLE) has exactly that semantics; unix_timestamp truncates.
        return f"CAST(CAST({a[0]} AS TIMESTAMP) AS DOUBLE)"

    if name == "from_unixtime" and len(a) == 1:
        # TIMESTAMP out, fraction kept (Spark's from_unixtime returns
        # a formatted STRING truncated to seconds).
        return f"timestamp_seconds({a[0]})"

    if name in ("year_of_week", "yow") and len(a) == 1:
        # ISO week-year (DateTimeFunctions.java yearOfWeek) — Spark's
        # extract exposes it as YEAROFWEEK.
        return f"extract(YEAROFWEEK FROM {a[0]})"

    if name == "regexp_replace" and len(a) == 2:
        # Presto's 2-arg form deletes matches
        # (RegexpFunctions.java regexpReplace); Spark's regexp_replace
        # is 3-arg only.
        return f"regexp_replace({a[0]}, {a[1]}, {stash_lit(stash, '')})"

    if name == "regexp_replace" and len(a) == 3 and "->" in args[2]:
        # LAMBDA form: regexp_replace(string, pattern, x -> body)
        # calls the lambda per match with the capture-group array
        # and splices the results between the non-matching segments;
        # a NULL lambda result makes the WHOLE result NULL
        # (JoniRegexpFunctions.java regexpReplace(lambda);
        # AbstractTestRegexpFunctions.java:135-184). Spark has no
        # lambda regexp_replace at all, so for LITERAL string +
        # pattern (the reference's entire pinned extent) the matches
        # fold at translate time: each body instance gets its
        # x[k] subscripts substituted with the match's group values
        # (CAST(NULL AS STRING) for a non-participating group —
        # exactly the NULL-ness Spark's regexp_extract_all cannot
        # express) and the pieces concatenate. Python's re has
        # Java's leftmost-greedy + empty-match advancement for the
        # pinned patterns. Non-literal operands decline (they could
        # never run before either: Spark rejects the lambda).
        s_lit = lit_of(args[0], stash)
        p_lit = lit_of(args[1], stash)
        lm = re.match(r"^\s*\(?\s*([A-Za-z_]\w*)\s*\)?\s*->\s*(.+)$",
                      args[2].strip(), re.DOTALL)
        if lm is None:
            return None
        null_str = "CAST(NULL AS STRING)"
        if args[0].strip().upper() == "NULL" or \
                args[1].strip().upper() == "NULL":
            return null_str
        if s_lit is None or p_lit is None:
            return None
        var, body = lm.group(1), lm.group(2).strip()
        try:
            cre = re.compile(p_lit)
        except re.error:
            return None  # invalid pattern: leave the raise to Spark
        segs: list[str] = []
        bodies: list[str] = []
        last = 0
        for mo in cre.finditer(s_lit):
            segs.append(s_lit[last:mo.start()])
            last = mo.end()

            def sub_group(mm: re.Match, mo=mo) -> str:
                k = int(mm.group(1))
                if k == 0:
                    # the group array is 1-based; [0] raises like any
                    # Presto array subscript (the lambda receives an
                    # ARRAY, ArraySubscriptOperator checkArrayIndex)
                    return _raise(
                        stash_lit(stash,
                                  "SQL array indices start at 1"),
                        "STRING")
                if k > (cre.groups or 0):
                    return _raise(
                        stash_lit(
                            stash,
                            "Array subscript must be less than or "
                            "equal to array length"),
                        "STRING")
                g = mo.group(k)
                return null_str if g is None else stash_lit(stash, g)

            bodies.append("(" + re.sub(
                rf"(?<![\w.\x00]){re.escape(var)}\s*\[\s*(\d+)\s*\]",
                sub_group, body) + ")")
        segs.append(s_lit[last:])
        if not bodies:
            return stash_lit(stash, s_lit)
        parts: list[str] = []
        for i, seg in enumerate(segs):
            if seg:
                parts.append(stash_lit(stash, seg))
            if i < len(bodies):
                parts.append(bodies[i])
        result = (f"concat({', '.join(parts)})" if len(parts) > 1
                  else parts[0] if parts else stash_lit(stash, ""))
        null_guard = " OR ".join(f"{b} IS NULL" for b in bodies)
        return (f"(CASE WHEN {null_guard} THEN {null_str} "
                f"ELSE {result} END)")

    if name == "regexp_replace" and len(a) == 3:
        # Replacement ${name} references must name a group the
        # PATTERN defines — ${}, ${0}, ${unknown} raise in Presto
        # (AbstractTestRegexpFunctions.java:124-126; Java's Matcher
        # silently treats some of these as empty). Validated at
        # translate time when both pattern and replacement are
        # literals (the reference validates when compiling the
        # replacement) — r13 leniency conversion; non-literal forms
        # pass through untouched.
        pat_lit = lit_of(args[1], stash)
        rep_lit = lit_of(args[2], stash)
        if pat_lit is not None and rep_lit is not None:
            # capture-group numbering: walk the pattern tracking
            # escapes and character classes; each bare '(' that is
            # not (?:  (?=  (?!  (?<=  (?<!  is a capturing group,
            # and (?<name>...) is a NAMED capturing group
            names: dict[str, int] = {}
            num = 0
            i, in_class, esc = 0, False, False
            while i < len(pat_lit):
                ch = pat_lit[i]
                if esc:
                    esc = False
                elif ch == "\\":
                    esc = True
                elif in_class:
                    if ch == "]":
                        in_class = False
                elif ch == "[":
                    in_class = True
                elif ch == "(":
                    nm = re.match(r"\(\?<([A-Za-z][A-Za-z0-9]*)>",
                                  pat_lit[i:])
                    if nm:
                        num += 1
                        names[nm.group(1)] = num
                    elif not pat_lit.startswith("(?", i):
                        num += 1
                i += 1
            out_rep, bad_ref = [], None
            j = 0
            while j < len(rep_lit):
                m2 = re.match(r"\$\{([^}]*)\}", rep_lit[j:])
                if m2:
                    ref = m2.group(1)
                    if ref not in names:
                        bad_ref = ref
                        break
                    # Spark's RegExpReplace only honors $N numeric
                    # references — rewrite the named form to its
                    # group number (converts the long-standing
                    # _XFAIL_NAMED_GROUP divergence to a pass)
                    out_rep.append(f"${names[ref]}")
                    j += m2.end()
                else:
                    out_rep.append(rep_lit[j])
                    j += 1
            if bad_ref is not None:
                return _raise(
                    stash_lit(
                        stash,
                        "Invalid replacement sequence: unknown "
                        "group { " + bad_ref + " }"),
                    "STRING")
            new_rep = "".join(out_rep)
            if new_rep != rep_lit:
                return (f"regexp_replace({a[0]}, {a[1]}, "
                        f"{stash_lit(stash, new_rep)})")
        return None

    if name == "regexp_split" and len(args) == 2:
        # literal-arg fold (r15): Java's Pattern.split (what the
        # reference's regexp_split wraps) KEEPS leading/interior
        # empties and — through Presto's explicit -1 limit — trailing
        # ones too; the zero-width empty-pattern split yields
        # ['', 'a', ..., ''] (AbstractTestRegexpFunctions:231) where
        # Spark's split drops the edge empties. Python re.split
        # replays the reference exactly for literal args.
        lit_s = lit_of(args[0], stash)
        lit_p = lit_of(args[1], stash)
        if lit_s is not None and lit_p is not None:
            try:
                parts = re.split(lit_p, lit_s)
                # Spark-native array(): the Presto ARRAY[...] lowering
                # pass has already run by template time
                return ("array(" + ", ".join(
                    stash_lit(stash, x) for x in parts) + ")")
            except re.error:
                pass
        return None  # column args: the rename pass maps to split()

    if name == "regexp_extract_all" and len(a) == 2:
        # Spark's 2-arg default is group 1 (errors on group-less
        # patterns); Presto's is the full match (group 0). No-match
        # gives [] in both — no guard needed.
        return f"regexp_extract_all({a[0]}, {a[1]}, 0)"

    if name == "regexp_extract" and len(a) in (2, 3):
        # literal-arg fold (r15): replay the reference's Joni
        # semantics in Python re — a MATCHED pattern whose requested
        # group did not participate returns NULL in the reference
        # (AbstractTestRegexpFunctions:199) where Spark returns ''
        # (indistinguishable from a matched-empty group post-hoc).
        # Python re declines Joni-only syntax at compile time, which
        # keeps the fold conservative.
        lit_s = lit_of(args[0], stash)
        lit_p = lit_of(args[1], stash)
        g_txt = args[2].strip() if len(args) == 3 else "0"
        if lit_s is not None and lit_p is not None \
                and re.fullmatch(r"\d+", g_txt):
            try:
                pat = re.compile(lit_p)
                gi = int(g_txt)
                if gi <= pat.groups:
                    m = pat.search(lit_s)
                    if m is None or m.group(gi) is None:
                        return "CAST(NULL AS STRING)"
                    return stash_lit(stash, m.group(gi))
                # group out of range: keep the runtime raise path
            except re.error:
                pass
        s, p = a[0], a[1]
        g = a[2] if len(a) == 3 else "0"
        return (
            f"(CASE WHEN regexp_like({s}, {p}) "
            f"THEN regexp_extract({s}, {p}, {g}) END)"
        )

    if name == "element_at" and len(a) == 2:
        # Presto element_at: NULL past either end of an array, NULL
        # for a missing map key (ArrayFunctions/MapSubscript ELEMENT_AT
        # form); Spark's ANSI element_at raises for both. Index 0
        # still raises in try_element_at — same as Presto's "SQL
        # array indices start at 1". The a[i] SUBSCRIPT form keeps
        # the raising element_at (Presto subscript errors OOB) — see
        # the pass ordering note in frontend.presto_to_spark_sql.
        return f"try_element_at({a[0]}, {a[1]})"

    if name == "ngrams" and len(a) == 2:
        # ARRAY n-grams (ArrayNgramsFunction.java): n >= length gives
        # one ngram holding the whole array; n <= 0 raises (r12
        # leniency conversion, TestArrayNgramsFunction.java:103).
        arr, n = a
        # the guard lives inside the sequence lower bound so the
        # raise branch types as INT regardless of the array element
        # type (a CASE around the whole call could not type the
        # raise branch polymorphically)
        bad = _raise(stash_lit(stash, "N must be positive"), "INT")
        lo = f"(CASE WHEN {n} <= 0 THEN {bad} ELSE 1 END)"
        return (
            f"transform(sequence({lo}, "
            f"greatest(size({arr}) - ({n}) + 1, 1)), "
            f"i -> slice({arr}, i, {n}))"
        )

    if name == "split_to_map" and len(a) == 3:
        # Literal delimiters (SplitToMapFunction.java uses indexOf);
        # Spark str_to_map's are regexes — quote them. Presto maps ''
        # to {} where str_to_map gives {'': null}. r13 leniency
        # conversions (SplitToMapFunction.java:53-100): delimiter
        # validation, the kv-delimiter-exactly-once-per-entry rule,
        # and the duplicate-key raise; one trailing entry delimiter
        # is legal (the reference's scan just stops), interior empty
        # entries are not.
        quoted = []
        for arg in (args[1], args[2]):
            lit = lit_of(arg, stash)
            if lit is not None:
                quoted.append(stash_lit(
                    stash, re.sub(r"([\\.\[\]{}()*+?^$|-])", r"\\\1", lit)
                ))
            else:
                q, e = stash_lit(stash, "\\Q"), stash_lit(stash, "\\E")
                quoted.append(f"concat({q}, ({arg.strip()}), {e})")
        empty = stash_lit(stash, "")
        raw = f"split({a[0]}, {quoted[0]}, -1)"
        ents = (f"(CASE WHEN element_at({raw}, size({raw})) = {empty} "
                f"AND size({raw}) > 1 "
                f"THEN slice({raw}, 1, size({raw}) - 1) "
                f"ELSE {raw} END)")
        badent_prefix = stash_lit(
            stash, "Key-value delimiter must appear exactly once in "
                   "each entry. Bad input: '")
        badent_q = stash_lit(stash, "'")
        badent = _raise(
            f"concat({badent_prefix}, "
            f"element_at(filter({ents}, "
            f"p -> size(split(p, {quoted[1]}, -1)) != 2), 1), "
            f"{badent_q})",
            "MAP<STRING, STRING>")
        keys = f"transform({ents}, p -> element_at(split(p, {quoted[1]}, -1), 1))"
        dup = _raise(
            stash_lit(stash, "Duplicate keys are not allowed"),
            "MAP<STRING, STRING>")
        # empty delimiters raise BEFORE any scanning — the reference's
        # checkCondition runs even for empty input
        # (SplitToMapFunction.java:53-54: 'entryDelimiter is empty' /
        # 'keyValueDelimiter is empty')
        ed_empty = _raise(stash_lit(stash, "entryDelimiter is empty"),
                          "MAP<STRING, STRING>")
        kvd_empty = _raise(
            stash_lit(stash, "keyValueDelimiter is empty"),
            "MAP<STRING, STRING>")
        return (
            f"(CASE WHEN length({a[1]}) = 0 THEN {ed_empty} "
            f"WHEN length({a[2]}) = 0 THEN {kvd_empty} "
            f"WHEN ({a[1]}) = ({a[2]}) THEN "
            + _raise(stash_lit(stash, "entryDelimiter and "
                                       "keyValueDelimiter must not be "
                                       "the same"),
                     "MAP<STRING, STRING>")
            + f" WHEN {a[0]} = {empty} THEN map() "
            f"WHEN exists({ents}, "
            f"p -> size(split(p, {quoted[1]}, -1)) != 2) THEN {badent} "
            f"WHEN size(array_distinct({keys})) != size({keys}) "
            f"THEN {dup} "
            # build from the trailing-dropped entry list, not the raw
            # string: str_to_map('a=1,') would emit a spurious
            # {'': null} entry the reference's scan never produces
            f"ELSE map_from_entries(transform({ents}, "
            f"p -> struct(element_at(split(p, {quoted[1]}, -1), 1), "
            f"element_at(split(p, {quoted[1]}, -1), 2)))) END)"
        )

    if name == "to_utf8" and len(a) == 1:
        return f"encode({a[0]}, {stash_lit(stash, 'UTF-8')})"

    if name == "from_utf8" and len(a) in (1, 2):
        # Presto from_utf8 REPLACES each malformed sequence
        # (StringFunctions.java fromUtf8: CharsetDecoder REPLACE
        # action) — U+FFFD by default, or the given single-char /
        # codepoint replacement; '' deletes. Spark's decode raises
        # under ANSI, so this routes through the registered
        # from_utf8_replace UDF (functions/udfs.py — the same
        # malformed-run stepping as Java's CharsetDecoder).
        if len(a) == 1:
            repl = stash_lit(stash, "�")
        elif re.fullmatch(r"\s*\d+\s*", args[1]):
            # codepoint overload, literal form
            repl = stash_lit(stash, chr(int(args[1])))
        else:
            repl = a[1]
        return f"from_utf8_replace({a[0]}, {repl})"

    if name == "normalize" and len(a) in (1, 2):
        # normalize(s[, NFC|NFD|NFKC|NFKD]) — the form is a BARE
        # KEYWORD in Presto's grammar; lower it to a string arg of
        # the registered unicode_normalize pandas UDF.
        if len(a) == 1:
            form = stash_lit(stash, "NFC")
        else:
            kw = args[1].strip().upper()
            if kw not in ("NFC", "NFD", "NFKC", "NFKD"):
                # StringFunctions.java:846 (r12 leniency conversion —
                # an unknown form previously fell through to an
                # unresolved-routine error)
                return _raise(
                    stash_lit(stash, "Normalization form must be "
                                      "one of [NFD, NFC, NFKD, NFKC]"),
                    "STRING")
            form = stash_lit(stash, kw)
        return f"unicode_normalize({form}, {a[0]})"

    if name in ("lpad", "rpad") and len(a) == 3:
        # StringFunctions.java:684-688 validation (r12 leniency
        # conversion): Spark pads through negative lengths (empty
        # string) and empty pad strings.
        s_, n, pad = a
        badlen = _raise(
            stash_lit(stash, "Target length must be in the range "
                              "[0..2147483647]"), "STRING")
        badpad = _raise(
            stash_lit(stash, "Padding string must not be empty"),
            "STRING")
        return (
            f"(CASE WHEN {n} < 0 OR {n} > 2147483647 THEN {badlen} "
            f"WHEN length({pad}) = 0 THEN {badpad} "
            f"ELSE {name}({s_}, CAST({n} AS INT), {pad}) END)"
        )

    if name == "date_trunc" and len(a) == 2:
        # DateTimeFunctions.java:549-591: an unknown unit raises
        # where Spark's date_trunc returns NULL (r12 leniency
        # conversion). Literal units only; the valid set passes
        # through untouched.
        unit = lit_of(args[0], stash)
        if unit is not None and unit.lower() not in (
                "millisecond", "second", "minute", "hour", "day",
                "week", "month", "quarter", "year"):
            return _raise(
                stash_lit(stash,
                          f"'{unit.lower()}' is not a valid "
                          "Timestamp field"),
                "TIMESTAMP")
        return None

    if name == "json_parse" and len(a) == 1:
        # Presto json_parse canonicalizes (whitespace, key order,
        # number form — JsonOperators.java). Spark 4's variant round
        # trip has the same canonical form, but parse_json is LENIENT
        # on trailing content ('"x": 1' parses as '"x"') where
        # jackson rejects the whole document — json_invalid supplies
        # the strict raise (r13 leniency conversion,
        # TestJsonFunctions.java:280). The engine's JSON type is the
        # canonical STRING.
        bad = _raise(
            f"concat({stash_lit(stash, 'Cannot convert ')}, {a[0]}, "
            f"{stash_lit(stash, ' to JSON')})", "STRING")
        return (f"(CASE WHEN {a[0]} IS NULL THEN CAST(NULL AS STRING) "
                f"WHEN json_invalid({a[0]}) THEN {bad} "
                f"ELSE to_json(parse_json({a[0]})) END)")

    if name == "json_format" and len(a) == 1:
        # Identity in the canonical-string JSON representation.
        return f"CAST({a[0]} AS STRING)"

    if name == "json_extract" and len(a) == 2:
        # JsonFunctions.java:472 jsonExtract: the JSON TEXT at the
        # path — scalar strings KEEP their JSON quoting
        # (json_extract('{"a":"x"}','$.a') = '"x"'), unlike
        # get_json_object which unquotes (the divergence r12
        # documented; r13 fixes it through the VARIANT machinery
        # json_parse already uses). Invalid JSON -> NULL
        # (JsonExtract.java:140 swallows JsonParseException);
        # missing path -> NULL; output canonicalizes like
        # json_parse (sorted keys, canonical numbers — the engine's
        # documented JSON convention). A surrounding Presto
        # JSON-to-T CAST is peepholed in frontend.py to cast the
        # VARIANT directly (unquote/parse semantics of
        # JsonOperators' casts).
        return (f"to_json(variant_get(try_parse_json("
                f"CAST({a[0]} AS STRING)), {a[1]}))")

    if name == "json_size" and len(a) == 2:
        # Object -> #keys, array -> #elements, scalar -> 0, absent
        # path -> NULL (JsonFunctions.java jsonSize).
        sub = f"get_json_object({a[0]}, {a[1]})"
        return (
            f"(CASE WHEN {sub} IS NULL THEN CAST(NULL AS BIGINT) "
            f"ELSE CAST(coalesce(json_array_length({sub}), "
            f"size(json_object_keys({sub})), 0) AS BIGINT) END)"
        )

    if name == "cardinality" and len(a) == 1:
        # BIGINT element/entry count (ArrayCardinalityFunction /
        # MapCardinalityFunction) — Spark's size returns INT. The
        # cardinality(approx_set(..)) HLL idiom is owned by
        # _rewrite_call_templates (runs later): decline it.
        if re.match(r"^\s*\(*\s*approx_set\s*\(", args[0],
                    re.IGNORECASE):
            return None
        return (f"(CASE WHEN ({a[0]}) IS NULL "
                f"THEN CAST(NULL AS BIGINT) "
                f"ELSE CAST(size({a[0]}) AS BIGINT) END)")

    if name in ("contains", "array_position") and len(a) == 2 \
            and args[1].strip().upper() == "NULL":
        # a typeless NULL needle returns NULL in the reference
        # (ArrayContains/ArrayPositionFunction null handling) where
        # Spark's analyzer rejects the untyped argument
        # (TestArrayOperators.java:514,672)
        return "CAST(NULL AS {})".format(
            "BOOLEAN" if name == "contains" else "BIGINT")

    if name == "json_array_length" and len(a) == 1:
        # JsonFunctions.java jsonArrayLength: BIGINT count of
        # top-level elements; non-array / malformed / NULL -> NULL.
        # Spark's builtin has identical null/shape semantics but
        # returns INT — the reference type is BIGINT.
        return (f"CAST(json_array_length(CAST({_unwrap_json_literal(a[0])} AS STRING)) "
                f"AS BIGINT)")

    if name == "json_array_contains" and len(a) == 2:
        # TYPED, TOKEN-KIND-AWARE membership (JsonFunctions.java
        # jsonArrayContains overloads, :199-369): a boolean needle
        # matches only true/false tokens, a bigint needle only
        # INTEGER number tokens (so '[1.0]' does NOT contain 1 —
        # TestJsonFunctions.java:100), a double needle only FLOAT
        # number tokens (non-finite needles return false before the
        # document is even parsed), a varchar needle only string
        # tokens (compared unescaped). Token kind is recovered from
        # the variant element via schema_of_variant: integer tokens
        # in long range -> 'BIGINT', float tokens -> DECIMAL(p,s)
        # or DOUBLE; the needle's Presto overload is dispatched on
        # typeof(needle), which Catalyst constant-folds. NULL input
        # or NULL needle -> NULL, malformed/non-array JSON -> NULL.
        # Documented residual: an integer token beyond long range
        # (variant DECIMAL(p,0)) would match an equal double
        # needle, where the reference's VALUE_NUMBER_INT check
        # excludes it.
        j, v = _unwrap_json_literal(a[0]), a[1]
        arr = f"from_json(CAST({j} AS STRING), " \
              f"{stash_lit(stash, 'array<variant>')})"
        sv = "schema_of_variant(e)"
        int_kinds = ", ".join(
            stash_lit(stash, k)
            for k in ("tinyint", "smallint", "int", "bigint"))
        dbl = f"CAST({v} AS DOUBLE)"
        lit = {
            s: stash_lit(stash, s)
            for s in ("BIGINT", "DOUBLE", "DECIMAL(%", "decimal(%",
                      "BOOLEAN", "STRING", "double", "float",
                      "boolean", "Infinity")
        }
        return (
            f"(CASE WHEN ({j}) IS NULL OR ({v}) IS NULL "
            f"THEN CAST(NULL AS BOOLEAN) "
            f"WHEN typeof({v}) IN ({lit['double']}, {lit['float']}) "
            f"AND (isnan({dbl}) OR abs({dbl}) = "
            f"CAST({lit['Infinity']} AS DOUBLE)) THEN false "
            f"WHEN {arr} IS NULL THEN CAST(NULL AS BOOLEAN) "
            f"WHEN typeof({v}) IN ({int_kinds}) THEN "
            f"exists({arr}, e -> CASE WHEN {sv} = {lit['BIGINT']} "
            f"THEN CAST(e AS BIGINT) = CAST({v} AS BIGINT) "
            f"ELSE false END) "
            f"WHEN typeof({v}) IN ({lit['double']}, {lit['float']}) "
            f"OR typeof({v}) LIKE {lit['decimal(%']} THEN "
            f"exists({arr}, e -> CASE WHEN {sv} = {lit['DOUBLE']} "
            f"OR {sv} LIKE {lit['DECIMAL(%']} "
            f"THEN CAST(e AS DOUBLE) = {dbl} ELSE false END) "
            # every branch must ANALYZE for every needle type (Spark
            # type-checks non-taken CASE arms), so the boolean arm
            # compares 'true'/'false' renderings instead of casting
            # the needle to BOOLEAN
            f"WHEN typeof({v}) = {lit['boolean']} THEN "
            f"exists({arr}, e -> CASE WHEN {sv} = {lit['BOOLEAN']} "
            f"THEN CAST(e AS STRING) = CAST({v} AS STRING) "
            f"ELSE false END) "
            f"ELSE exists({arr}, e -> CASE WHEN {sv} = {lit['STRING']} "
            f"THEN CAST(e AS STRING) = CAST({v} AS STRING) "
            f"ELSE false END) END)"
        )

    if name == "none_match" and len(a) == 2:
        # 3-valued NOT of any_match (ArrayNoneMatchFunction.java)
        return f"(NOT exists({a[0]}, {args[1].strip()}))"

    if name == "combinations" and len(a) == 2:
        # n-element subsequences in order (ArrayCombinationsFunction
        # .java; n capped at 5 there). Literal n only — generates n
        # nested index loops; non-literal n declines.
        try:
            n = int(args[1].strip())
        except ValueError:
            return None
        arr = a[0]
        if n < 0:
            # ArrayCombinationsFunction.java:59 (r12 leniency
            # conversion)
            return _raise(
                stash_lit(stash,
                          f"combination size must not be negative: {n}"),
                "ARRAY<STRING>")
        if n > 5:
            return _raise(
                stash_lit(stash,
                          f"combination size must not exceed 5: {n}"),
                "ARRAY<STRING>")
        if n == 0:
            return "array(array())"
        # indexes i1 < i2 < ... < in over 1..size
        expr = f"array(array({', '.join(f'element_at({arr}, i{k})' for k in range(1, n + 1))}))"
        for k in range(n, 0, -1):
            lo = "1" if k == 1 else f"i{k - 1} + 1"
            hi = f"size({arr}) - {n - k}" if k < n else f"size({arr})"
            if k == 1:
                # result-size cap (ArrayCombinationsFunction.java:68:
                # C(s, n) * n <= 100000, r12 leniency conversion) —
                # the raise hides in the outermost sequence bound so
                # it types as INT for any element type
                fact = [1, 1, 2, 6, 24, 120][n]
                ccount = " * ".join(
                    f"(CAST(size({arr}) AS BIGINT) - {j})"
                    for j in range(n))
                toobig = _raise(
                    stash_lit(stash, "combinations exceed max size"),
                    "INT")
                hi = (f"(CASE WHEN ({ccount}) / {fact} * {n} > 100000 "
                      f"THEN {toobig} ELSE {hi} END)")
            expr = f"flatten(transform(sequence({lo}, {hi}), i{k} -> {expr}))"
        # guard: sequence(lo, hi) with lo > hi DESCENDS in Spark —
        # produce [] when the array is too short instead.
        return (
            f"(CASE WHEN size({arr}) < {n} THEN "
            f"array() ELSE {expr} END)"
        )

    if name == "multimap_from_entries" and len(a) == 1:
        # array(row(K, V)) -> map K -> array(V), first-seen key order
        # (MultimapFromEntriesFunction.java). Handles the literal
        # tuple form (struct fields col1/col2). The entries expression
        # is evaluated more than once (macro caveat).
        e = a[0]
        keys = f"array_distinct(transform({e}, x -> x.col1))"
        return (
            f"map_from_arrays({keys}, transform({keys}, "
            f"k -> transform(filter({e}, x -> x.col1 <=> k), x -> x.col2)))"
        )

    if name in ("from_ieee754_64", "from_ieee754_32") and len(a) == 1:
        # the registered raw pandas UDF cannot RETURN NaN (Arrow's
        # nan_as_null conversion hands it back as NULL), and its only
        # null-for-non-null-input case IS a NaN bit pattern — so a
        # coalesce to literal NaN restores every NaN payload, exactly
        # the DataFrame-side wrapper's behavior
        # (functions/udfs.py from_ieee754_64;
        # TestVarbinaryFunctions.java:235,266)
        t = "DOUBLE" if name.endswith("64") else "FLOAT"
        nan = stash_lit(stash, "NaN")
        return (f"(CASE WHEN ({a[0]}) IS NULL THEN CAST(NULL AS {t}) "
                f"ELSE coalesce({name}({a[0]}), "
                f"CAST({nan} AS {t})) END)")

    if name == "parse_presto_data_size" and len(a) == 1:
        # '2.2kB' -> DECIMAL bytes (DataSizeFunctions.java; binary
        # units). Literal argument resolved at rewrite time.
        lit = lit_of(args[0], stash)
        if lit is None:
            return None
        m = re.match(r"^\s*(\d+(?:\.\d+)?)\s*([a-zA-Z]+)\s*$", lit)
        units = {"B": 0, "kB": 1, "MB": 2, "GB": 3, "TB": 4,
                 "PB": 5, "EB": 6, "ZB": 7, "YB": 8}
        if m is None or m.group(2) not in units:
            bad = stash_lit(
                stash, f"Invalid data size: '{lit}'"
            )
            return _raise(bad, "DECIMAL(38, 0)")
        from decimal import Decimal as _D
        from decimal import localcontext as _lctx

        with _lctx() as ctx:
            # exact big-integer arithmetic: the default 28-digit
            # context rounded the EB/ZB/YB products
            # (TestDataSizeFunctions.java:46-47 pin 37-38 digit
            # values)
            ctx.prec = 90
            value = int(_D(m.group(1)) *
                        (1 << (10 * units[m.group(2)])))
        return f"CAST({stash_lit(stash, str(value))} AS DECIMAL(38, 0))"

    if name == "parse_duration" and len(a) == 1:
        # '5m' -> INTERVAL DAY TO SECOND (DateTimeFunctions.java
        # parseDuration via airlift Duration). Literal only.
        lit = lit_of(args[0], stash)
        if lit is None:
            return None
        m = re.match(r"^\s*(\d+(?:\.\d+)?)\s*([a-z]+)\s*$", lit)
        secs_per = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0,
                    "m": 60.0, "h": 3600.0, "d": 86400.0}
        if m is None or m.group(2) not in secs_per:
            bad = stash_lit(stash, f"duration is not a valid data duration string: {lit}")
            return _raise(bad, "INTERVAL DAY TO SECOND")
        total = float(m.group(1)) * secs_per[m.group(2)]
        return f"make_dt_interval(0, 0, 0, CAST({total!r} AS DECIMAL(18, 6)))"

    if name == "fail" and len(a) in (1, 2):
        # FailureFunction.java — 2-arg form carries an error code;
        # the message is the observable contract.
        return f"raise_error({a[-1]})"

    if name == "from_iso8601_date" and len(a) == 1:
        return f"to_date({a[0]})"

    if name == "from_iso8601_timestamp" and len(a) == 1:
        return f"to_timestamp({a[0]})"

    if name == "to_iso8601" and len(a) == 1:
        # DATE literal -> date form; everything else the timestamp
        # form (runtime DATE columns would get T00:00:00.000 — the
        # documented static-rewrite limitation).
        if _DATE_LIT.match(args[0].strip()):
            return f"date_format({a[0]}, {stash_lit(stash, 'yyyy-MM-dd')})"
        return (
            f"date_format({a[0]}, "
            f"{stash_lit(stash, chr(39).join(['yyyy-MM-dd', 'T', 'HH:mm:ss.SSS']))})"
        )

    if name == "millisecond" and len(a) == 1:
        return (
            f"CAST((extract(SECOND FROM {a[0]}) % 1) * 1000 AS BIGINT)"
        )

    if name in ("timezone_hour", "timezone_minute") and len(a) == 1:
        # Engine convention: naive timestamps denote UTC instants
        # (see at_timezone/with_timezone renames) — the session zone
        # offset is always 0.
        return (
            f"(CASE WHEN {a[0]} IS NULL THEN CAST(NULL AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )

    if name == "current_timezone" and len(a) in (0, 1):
        return stash_lit(stash, "UTC")

    if name == "to_base64url" and len(a) == 1:
        plus, dash = stash_lit(stash, "+/"), stash_lit(stash, "-_")
        return f"translate(base64({a[0]}), {plus}, {dash})"

    if name == "from_base64url" and len(a) == 1:
        plus, dash = stash_lit(stash, "+/"), stash_lit(stash, "-_")
        return f"unbase64(translate({a[0]}, {dash}, {plus}))"

    if name == "to_big_endian_32" and len(a) == 1:
        z = stash_lit(stash, "0")
        return (
            f"unhex(lpad(hex(CAST(CAST({a[0]} AS INT) AS BIGINT) "
            f"& 4294967295), 8, {z}))"
        )

    if name == "from_big_endian_32" and len(a) == 1:
        # exactly 4 bytes or raise (VarbinaryFunctions.java:203 —
        # r13 leniency conversion)
        badlen = _raise(
            f"concat({stash_lit(stash, 'expected 4-byte input, but got instead: ')}, "
            f"CAST(length({a[0]}) AS STRING))", "INT")
        u = f"CAST(conv(hex({a[0]}), 16, 10) AS BIGINT)"
        return (
            f"(CASE WHEN {a[0]} IS NULL THEN CAST(NULL AS INT) "
            f"WHEN length({a[0]}) != 4 THEN {badlen} "
            f"ELSE CAST((CASE WHEN {u} >= 2147483648 "
            f"THEN {u} - 4294967296 ELSE {u} END) AS INT) END)"
        )

    if name == "from_hex" and len(a) == 1:
        # VarbinaryFunctions.java:154 fromHexVarchar: odd length ->
        # 'invalid input length N'; non-hex char -> 'invalid hex
        # byte' (r13 leniency conversion; the previous lowering was a
        # bare rename to unhex, which returns NULL/truncates)
        x = f"CAST({a[0]} AS STRING)"
        nonhex = stash_lit(stash, "[^0-9a-fA-F]")
        badlen = _raise(
            f"concat({stash_lit(stash, 'invalid input length ')}, "
            f"CAST(length({x}) AS STRING))", "BINARY")
        badbyte = _raise(
            f"concat({stash_lit(stash, 'invalid hex byte: ')}, "
            f"regexp_extract({x}, {nonhex}, 0))", "BINARY")
        return (
            f"(CASE WHEN {a[0]} IS NULL THEN CAST(NULL AS BINARY) "
            f"WHEN length({x}) % 2 != 0 THEN {badlen} "
            f"WHEN {x} RLIKE {nonhex} THEN {badbyte} "
            f"ELSE unhex({x}) END)"
        )

    if name == "concat" and len(a) == 1:
        # ConcatFunction.java:114 — concat requires two or more
        # arguments (r13 leniency conversion; Spark's concat('') is
        # the identity)
        return _raise(
            stash_lit(stash, "There must be two or more "
                              "concatenation arguments"), "STRING")

    if name == "map_from_entries" and len(a) == 1:
        # MapFromEntriesFunction.java:75 — a null ENTRY raises where
        # Spark returns NULL (r13 leniency conversion). assert_true
        # keeps the argument type polymorphic (a CASE raise branch
        # cannot name map<K,V>); the NULL arm is unreachable.
        guard = (
            f"assert_true(NOT exists({a[0]}, e -> e IS NULL), "
            f"{stash_lit(stash, 'map entry cannot be null')})"
        )
        return (f"map_from_entries(IF(isnull({guard}), {a[0]}, "
                f"NULL))")

    if name == "array_sort" and len(a) == 2:
        # ArraySortComparatorFunction.java:194 — the lambda
        # comparator must return EXACTLY -1, 0, or 1; Spark's
        # array_sort accepts any integer sign (r13 leniency
        # conversion). NULL comparator results fall to the raise arm
        # too (checkCondition is null-intolerant).
        lm = re.match(
            r"^\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*->\s*(.+)$",
            args[1].strip(), re.S)
        if lm is None:
            return None  # not a 2-param lambda: leave untouched
        x, y, body = lm.group(1), lm.group(2), lm.group(3)
        bad = _raise(
            stash_lit(stash, "Lambda comparator must return either "
                              "-1, 0, or 1"), "INT")
        return (
            f"array_sort({a[0]}, ({x}, {y}) -> "
            f"(CASE WHEN ({body}) IN (-1, 0, 1) "
            f"THEN CAST(({body}) AS INT) ELSE {bad} END))"
        )

    if name == "strrpos" and len(a) in (2, 3):
        # Nth-from-the-end occurrence, 1-based, 0 when absent; empty
        # substring -> 1 (StringFunctions.java stringPositionFromEnd:
        # 233-235, 259-261). Positions are CODEPOINT-correct here; the
        # reference's own from-the-end path is byte/char-confused for
        # non-ASCII (line 269 feeds a UTF-16 lastIndexOf index into
        # the byte-offset countCodePoints — TestStringFunctions.java:
        # 316 pins position 2 for a match at codepoint 4), a bug this
        # engine does not reproduce (documented divergence).
        s, sub = a[0], a[1]
        if len(a) == 2:
            found = f"instr(reverse({s}), reverse({sub}))"
            return (
                f"(CASE WHEN ({s}) IS NULL OR ({sub}) IS NULL "
                f"THEN CAST(NULL AS BIGINT) "
                f"WHEN length({sub}) = 0 THEN CAST(1 AS BIGINT) "
                f"WHEN {found} = 0 THEN CAST(0 AS BIGINT) "
                f"ELSE CAST(length({s}) - {found} - length({sub}) + 2 "
                f"AS BIGINT) END)"
            )
        n = a[2]
        positions = (
            f"filter(sequence(1, length({s})), "
            f"p -> substr({s}, p, length({sub})) = {sub})"
        )
        msg = stash_lit(stash, "'instance' must be a positive number.")
        return (
            f"(CASE WHEN ({n}) <= 0 THEN "
            f"CAST(raise_error({msg}) AS BIGINT) "
            f"WHEN ({s}) IS NULL OR ({sub}) IS NULL OR ({n}) IS NULL "
            f"THEN CAST(NULL AS BIGINT) "
            f"WHEN length({sub}) = 0 THEN 1 "
            f"WHEN length({s}) = 0 THEN 0 "
            f"ELSE CAST(coalesce(try_element_at({positions}, "
            f"CAST(-({n}) AS INT)), 0) AS BIGINT) END)"
        )

    if name == "repeat" and len(a) == 2:
        # Presto's repeat(element, count) builds an ARRAY
        # (RepeatFunction.java) — Spark's same-named builtin is
        # STRING repetition, a silent wrong-type trap. Lower to
        # array_repeat with the reference's bounds (negative raises,
        # count capped at 10000: RepeatFunction.java:36,146).
        x, n = a
        msg = stash_lit(
            stash,
            "count argument of repeat function must be less than or "
            "equal to 10000",
        )
        neg = stash_lit(stash, "count argument of repeat function "
                                "must be greater than or equal to 0")
        toobig = _raise(
            stash_lit(stash, "result of repeat function must not "
                              "take more than 1000000 bytes"), "INT")
        # byte cap (RepeatFunction.checkMaxSize: bytes <= (1MB +
        # count)/count): exact for VARCHAR elements (Slice length ==
        # UTF-8 octet_length); other element types keep the leniency
        # (Presto's Block byte accounting is not reconstructible from
        # SQL) — typeof gates the check to strings (r13 conversion)
        return (
            f"(CASE WHEN ({n}) < 0 THEN "
            f"array_repeat({x}, CAST(raise_error({neg}) AS INT)) "
            f"WHEN ({n}) > 10000 THEN "
            f"array_repeat({x}, CAST(raise_error({msg}) AS INT)) "
            f"WHEN ({n}) > 0 AND "
            f"startswith(typeof({x}), {stash_lit(stash, 'string')}) "
            f"AND octet_length(CAST({x} AS STRING)) > "
            f"CAST((1000000 + ({n})) DIV ({n}) AS BIGINT) THEN "
            f"array_repeat({x}, {toobig}) "
            f"ELSE array_repeat({x}, CAST({n} AS INT)) END)"
        )

    if name == "geometry_union_agg" and len(a) == 1:
        # GeometryUnionAgg lowered through collect_list -> the n-ary
        # overlay union (aggregation/GeometryUnionAgg.java; nulls are
        # skipped and an empty group yields null, both matching
        # collect_list + union_all)
        return f"geometry_union(collect_list({a[0]}))"

    if name == "convex_hull_agg" and len(a) == 1:
        # GeometryConvexHullAgg: hull over every input vertex
        return f"convex_hull_of(collect_list({a[0]}))"

    if name == "bing_tiles_around" and len(a) in (3, 4):
        # BingTileFunctions.java:198 (3x3 neighborhood) and :231
        # (radius cover) — arity-dispatched like bing_tile
        if len(a) == 3:
            return f"bing_tiles_around_xy({a[0]}, {a[1]}, {a[2]})"
        return (f"bing_tiles_around_radius({a[0]}, {a[1]}, {a[2]}, "
                f"{a[3]})")

    if name == "bing_tile" and len(a) in (1, 3):
        # BingTileFunctions.java overloads: bing_tile(quadkey) and
        # bing_tile(x, y, zoom); a tile is represented as its quadkey
        # string (bing_tile_quadkey is the identity)
        if len(a) == 1:
            return f"bing_tile_qk({a[0]})"
        return f"bing_tile_xyz({a[0]}, {a[1]}, {a[2]})"

    if name == "width_bucket" and len(a) == 2:
        # Array-bins form: the reference validates DURING its binary
        # search (MathFunctions.java widthBucket(operand, bins) —
        # unsortedness or a non-finite bin raises only when the
        # bisection path sees it; TestMathFunctions.java:1289 pins an
        # unsorted array that still returns). Exact loop replica as a
        # pandas UDF (functions/udfs.py width_bucket_bins).
        return (f"width_bucket_bins(CAST({a[0]} AS DOUBLE), "
                f"CAST({a[1]} AS ARRAY<DOUBLE>))")

    if name == "width_bucket" and len(a) == 4:
        # Bounds form (MathFunctions.java widthBucket(operand, b1,
        # b2, count)) with the reference's argument-validation raises
        # (TestMathFunctions.java:1243-1250; r12 leniency conversion)
        # and its exact bucket arithmetic incl. descending bounds.
        x, b1, b2, cnt = (f"CAST({a[0]} AS DOUBLE)",
                          f"CAST({a[1]} AS DOUBLE)",
                          f"CAST({a[2]} AS DOUBLE)",
                          f"CAST({a[3]} AS BIGINT)")
        badc = _raise(
            stash_lit(stash, "bucketCount must be greater than 0"),
            "BIGINT")
        nan = _raise(
            stash_lit(stash, "operand must not be NaN"), "BIGINT")
        beq = _raise(
            stash_lit(stash, "bounds cannot equal each other"),
            "BIGINT")
        bf1 = _raise(
            stash_lit(stash, "first bound must be finite"), "BIGINT")
        bf2 = _raise(
            stash_lit(stash, "second bound must be finite"), "BIGINT")
        infv = f"CAST({stash_lit(stash, 'Infinity')} AS DOUBLE)"
        oflow = _raise(
            f"concat({stash_lit(stash, 'Bucket for value ')}, "
            f"CAST({x} AS STRING), "
            f"{stash_lit(stash, ' is out of range')})", "BIGINT")
        # Exact replica of the reference's unified arithmetic
        # (MathFunctions.java:1172-1195): r over (lower, upper) =
        # (min, max), THEN flip r -> cnt - r + 1 when bound1 > bound2.
        # The interior bucket is (long)(cnt*(x-lower)/(upper-lower)+1)
        # — truncating cast of the WHOLE +1 expression with the
        # reference's multiply-then-divide order, NOT floor(..)+1,
        # so exact interior boundaries in the descending form match
        # (r13 ADVICE: width_bucket(2.5,10,0,4) = 3, x==b1 -> 0
        # pre-flip -> cnt+... reference values at the boundaries).
        lo, hi = f"least({b1}, {b2})", f"greatest({b1}, {b2})"
        r = (f"(CASE WHEN {x} < {lo} THEN CAST(0 AS BIGINT) "
             f"WHEN {x} >= {hi} THEN "
             f"(CASE WHEN {cnt} = 9223372036854775807 THEN {oflow} "
             f"ELSE {cnt} + 1 END) "
             f"ELSE CAST({cnt} * ({x} - {lo}) / ({hi} - {lo}) + 1.0d "
             f"AS BIGINT) END)")
        return (
            f"(CASE WHEN {cnt} <= 0 THEN {badc} "
            f"WHEN isnan({x}) THEN {nan} "
            f"WHEN isnan({b1}) OR abs({b1}) = {infv} THEN {bf1} "
            f"WHEN isnan({b2}) OR abs({b2}) = {infv} THEN {bf2} "
            f"WHEN {b1} = {b2} THEN {beq} "
            f"WHEN {b1} > {b2} THEN {cnt} - {r} + 1 ELSE {r} END)"
        )

    if name in ("random", "rand") and len(a) == 1:
        # Presto random(n)/rand(n) is a uniform INTEGER in [0, n)
        # with a positivity raise (MathFunctions.java:577-601) —
        # Spark's rand(n) treats the argument as a SEED and returns a
        # double, a silent wrong-TYPE trap the r12 sweep closed.
        n = a[0]
        bad = _raise(
            stash_lit(stash, "bound must be positive"), "BIGINT")
        return (
            f"(CASE WHEN {n} <= 0 THEN {bad} "
            f"ELSE CAST(floor(rand() * {n}) AS BIGINT) END)"
        )

    if name == "sequence" and len(a) in (2, 3):
        # Presto caps sequence results at 10000 entries
        # (ArrayFunctions MAX_ARRAY_LENGTH; TestArrayOperators.java:
        # 1610-1616 — r12 leniency conversion). The size check runs
        # on the materialized result (macro caveat: the sequence
        # expression appears twice).
        seq = f"sequence({', '.join(x.strip() for x in args)})"
        toobig = _raise(
            stash_lit(stash, "result of sequence function must not "
                              "have more than 10000 entries"), "INT")
        lo = f"(CASE WHEN size({seq}) > 10000 THEN {toobig} ELSE 1 END)"
        return f"slice({seq}, {lo}, size({seq}))"

    if name == "cosine_similarity" and len(a) == 2:
        # Sparse map vectors (MathFunctions.java cosineSimilarity).
        m1, m2 = a
        dot = (
            f"aggregate(map_keys({m1}), CAST(0 AS DOUBLE), (s, k) -> "
            f"s + coalesce(try_element_at({m2}, k), CAST(0 AS DOUBLE)) "
            f"* try_element_at({m1}, k))"
        )
        n1 = f"sqrt(aggregate(map_values({m1}), CAST(0 AS DOUBLE), (s, v) -> s + v * v))"
        n2 = f"sqrt(aggregate(map_values({m2}), CAST(0 AS DOUBLE), (s, v) -> s + v * v))"
        return f"({dot} / ({n1} * {n2}))"

    if name == "is_json_scalar" and len(a) == 1:
        # true for JSON scalars, false for arrays/objects; invalid
        # JSON raises (JsonFunctions.java isJsonScalar). The strict
        # json_invalid UDF supplies the validity raise — parse_json
        # alone accepts '' / '[1' / trailing content that the
        # reference rejects (TestJsonFunctions.java:48-51, r13
        # leniency conversion); the first non-space char classifies.
        j = a[0]
        bracket = stash_lit(stash, "^[\\[{]")
        bad = _raise(
            f"concat({stash_lit(stash, 'Invalid JSON value: ')}, {j})",
            "BOOLEAN")
        return (
            f"(CASE WHEN {j} IS NULL THEN CAST(NULL AS BOOLEAN) "
            f"WHEN json_invalid({j}) THEN {bad} "
            f"ELSE NOT (ltrim({j}) RLIKE {bracket}) END)"
        )

    if name == "json_array_get" and len(a) == 2:
        # JsonFunctions.java:375 jsonArrayGet: element of a
        # top-level array as JSON text — strings come back
        # UNQUOTED (getValueAsString), nested arrays/objects in
        # Jackson's compact toString form (both match
        # get_json_object's rendering), negative indexes count
        # from the end (ring buffer in the reference; resolved
        # against json_array_length here), Long.MIN_VALUE / null
        # index / out-of-range / non-array / malformed -> NULL,
        # and a JSON null ELEMENT maps to SQL NULL
        # (getValueAsString returns Java null for VALUE_NULL) —
        # discriminated from the string "null" via
        # is_variant_null, since get_json_object renders both as
        # the text 'null'. Documented residuals: float-token raw
        # text is re-rendered through double (1.00 -> '1.0',
        # 1e2 -> '100.0'), untested in the reference suite.
        j = f"CAST({_unwrap_json_literal(a[0])} AS STRING)"
        idx = a[1]
        arr = f"from_json({j}, {stash_lit(stash, 'array<variant>')})"
        i2 = (f"(CASE WHEN ({idx}) >= 0 THEN ({idx}) "
              f"ELSE size({arr}) + ({idx}) END)")
        long_min = "(CAST(-9223372036854775807 AS BIGINT) - 1)"
        path = (f"concat({stash_lit(stash, '$[')}, "
                f"CAST({i2} AS STRING), {stash_lit(stash, ']')})")
        return (
            f"(CASE WHEN ({a[0]}) IS NULL OR ({idx}) IS NULL "
            f"THEN CAST(NULL AS STRING) "
            f"WHEN ({idx}) = {long_min} THEN CAST(NULL AS STRING) "
            f"WHEN {arr} IS NULL THEN CAST(NULL AS STRING) "
            f"WHEN {i2} < 0 OR {i2} >= size({arr}) "
            f"THEN CAST(NULL AS STRING) "
            f"WHEN is_variant_null(element_at({arr}, "
            f"CAST({i2} AS INT) + 1)) THEN CAST(NULL AS STRING) "
            f"ELSE get_json_object({j}, {path}) END)"
        )

    if name in (
        "normal_cdf", "inverse_normal_cdf", "beta_cdf",
        "inverse_beta_cdf", "binomial_cdf", "chi_squared_cdf",
        "inverse_chi_squared_cdf", "poisson_cdf", "inverse_poisson_cdf",
    ) and len(a) in (2, 3):
        # The registered Arrow UDFs expect float64 series — SQL
        # integer/decimal literals arrive as int64/Decimal objects
        # otherwise (the integral params are re-int()ed inside).
        # r13 leniency conversion: the reference's checkCondition
        # raises (MathFunctions.java:615-658) — note Java's NaN
        # comparisons are FALSE (so NaN sd raises) while Spark
        # orders NaN greater than everything, hence the explicit
        # isnan guards.
        c = [f"CAST({x} AS DOUBLE)" for x in a]
        call = f"{name}({', '.join(c)})"
        # (holds-condition, reference message) pairs, checked in the
        # reference's order
        guards = []
        if name == "inverse_normal_cdf":
            guards = [
                (f"{c[2]} > 0 AND {c[2]} < 1", "p must be 0 > p > 1"),
                (f"{c[1]} > 0 AND NOT isnan({c[1]})",
                 "sd must be > 0"),
            ]
        elif name == "normal_cdf":
            guards = [(f"{c[1]} > 0 AND NOT isnan({c[1]})",
                       "standardDeviation must be > 0")]
        elif name == "inverse_beta_cdf":
            guards = [
                (f"{c[2]} >= 0 AND {c[2]} <= 1 AND NOT isnan({c[2]})",
                 "p must be in the interval [0, 1]"),
                (f"{c[0]} > 0 AND NOT isnan({c[0]})", "a must be > 0"),
                (f"{c[1]} > 0 AND NOT isnan({c[1]})", "b must be > 0"),
            ]
        elif name == "beta_cdf":
            guards = [
                (f"{c[2]} >= 0 AND {c[2]} <= 1 AND NOT isnan({c[2]})",
                 "value must be in the interval [0, 1]"),
                (f"{c[0]} > 0 AND NOT isnan({c[0]})", "a must be > 0"),
                (f"{c[1]} > 0 AND NOT isnan({c[1]})", "b must be > 0"),
            ]
        if not guards:
            return call
        nulls = " OR ".join(f"({x}) IS NULL" for x in a)
        whens = " ".join(
            f"WHEN NOT ({cond}) THEN "
            f"{_raise(stash_lit(stash, msg), 'DOUBLE')}"
            for cond, msg in guards
        )
        return (f"(CASE WHEN {nulls} THEN CAST(NULL AS DOUBLE) "
                f"{whens} ELSE {call} END)")

    if name in ("hmac_md5", "hmac_sha1", "hmac_sha512") and len(a) == 2:
        algo = stash_lit(stash, name.removeprefix("hmac_"))
        return f"unhex(hmac_any_hex({algo}, {a[0]}, {a[1]}))"

    if name in ("wilson_interval_lower", "wilson_interval_upper") and len(a) == 3:
        # WilsonInterval.java closed form, with its checkCondition
        # raises (WilsonInterval.java:48-51 — r13 leniency
        # conversion, reference order).
        s_, n_, z_ = (
            f"CAST({a[0]} AS DOUBLE)",
            f"CAST({a[1]} AS DOUBLE)",
            f"CAST({a[2]} AS DOUBLE)",
        )
        sign = "-" if name.endswith("lower") else "+"
        p_hat = f"({s_} / {n_})"
        z2 = f"({z_} * {z_})"
        center = f"({p_hat} + {z2} / (2 * {n_}))"
        margin = (
            f"({z_} * sqrt({p_hat} * (1 - {p_hat}) / {n_} "
            f"+ {z2} / (4 * {n_} * {n_})))"
        )
        whens = " ".join(
            f"WHEN NOT ({cond}) THEN "
            f"{_raise(stash_lit(stash, msg), 'DOUBLE')}"
            for cond, msg in (
                (f"{s_} >= 0",
                 "number of successes must not be negative"),
                (f"{n_} > 0", "number of trials must be positive"),
                (f"{s_} <= {n_}", "number of successes must not be "
                                  "larger than number of trials"),
                (f"{z_} >= 0 AND NOT isnan({z_})",
                 "z-score must not be negative"),
            )
        )
        nulls = " OR ".join(f"({x}) IS NULL" for x in a)
        return (
            f"(CASE WHEN {nulls} THEN CAST(NULL AS DOUBLE) {whens} "
            f"ELSE (({center} {sign} {margin}) / (1 + {z2} / {n_})) "
            f"END)"
        )

    if name == "split_to_multimap" and len(a) == 3:
        # map K -> array of ALL values (SplitToMultimapFunction.java).
        quoted = []
        for arg in (args[1], args[2]):
            lit = lit_of(arg, stash)
            if lit is not None:
                quoted.append(stash_lit(
                    stash, re.sub(r"([\\.\[\]{}()*+?^$|-])", r"\\\1", lit)
                ))
            else:
                q, e = stash_lit(stash, "\\Q"), stash_lit(stash, "\\E")
                quoted.append(f"concat({q}, ({arg.strip()}), {e})")
        empty = stash_lit(stash, "")
        raw = f"split({a[0]}, {quoted[0]}, -1)"
        ents = (f"(CASE WHEN element_at({raw}, size({raw})) = {empty} "
                f"AND size({raw}) > 1 "
                f"THEN slice({raw}, 1, size({raw}) - 1) "
                f"ELSE {raw} END)")
        entries = (
            f"transform({ents}, p -> named_struct("
            f"{stash_lit(stash, 'k')}, element_at(split(p, {quoted[1]}, -1), 1), "
            f"{stash_lit(stash, 'v')}, element_at(split(p, {quoted[1]}, -1), 2)))"
        )
        keys = f"array_distinct(transform({entries}, x -> x.k))"
        # r13 leniency conversions (SplitToMultimapFunction.java:
        # same contract as split_to_map — delimiter equality and the
        # kv-delimiter-exactly-once-per-entry rule raise)
        mm_prefix = stash_lit(
            stash, "Key-value delimiter must appear exactly once in "
                   "each entry. Bad input: '")
        mm_q = stash_lit(stash, "'")
        badent = _raise(
            f"concat({mm_prefix}, element_at(filter({ents}, "
            f"p -> size(split(p, {quoted[1]}, -1)) != 2), 1), {mm_q})",
            "MAP<STRING, ARRAY<STRING>>")
        samedelim = _raise(
            stash_lit(stash, "entryDelimiter and keyValueDelimiter "
                              "must not be the same"),
            "MAP<STRING, ARRAY<STRING>>")
        # same pre-scan empty-delimiter raises as split_to_map
        # (SplitToMultimapFunction.java checkCondition order)
        mm_ed = _raise(stash_lit(stash, "entryDelimiter is empty"),
                       "MAP<STRING, ARRAY<STRING>>")
        mm_kvd = _raise(
            stash_lit(stash, "keyValueDelimiter is empty"),
            "MAP<STRING, ARRAY<STRING>>")
        return (
            f"(CASE WHEN length({a[1]}) = 0 THEN {mm_ed} "
            f"WHEN length({a[2]}) = 0 THEN {mm_kvd} "
            f"WHEN ({a[1]}) = ({a[2]}) THEN {samedelim} "
            f"WHEN {a[0]} = {empty} THEN map() "
            f"WHEN exists({ents}, "
            f"p -> size(split(p, {quoted[1]}, -1)) != 2) THEN {badent} "
            f"ELSE map_from_arrays({keys}, transform({keys}, "
            f"k -> transform(filter({entries}, x -> x.k <=> k), x -> x.v))) END)"
        )

    if name == "strpos" and len(a) == 3:
        # StringFunctions.java:228 stringPositionFromStart(string,
        # substring, instance): position of the Nth occurrence;
        # instance <= 0 RAISES in 0.235 (from-the-end counting is
        # strrpos's job; TestStringFunctions.java:298-301 — r13
        # leniency conversion); absent -> 0. NULL args propagate
        # BEFORE the validation (RETURNS NULL ON NULL INPUT).
        hay, sub, n = a
        positions = (
            f"filter(sequence(1, length({hay})), "
            f"p -> substr({hay}, p, length({sub})) = {sub})"
        )
        msg = stash_lit(stash, "'instance' must be a positive "
                                "number.")
        return (
            f"(CASE WHEN ({hay}) IS NULL OR ({sub}) IS NULL "
            f"OR ({n}) IS NULL THEN CAST(NULL AS BIGINT) "
            f"WHEN ({n}) <= 0 THEN "
            f"CAST(raise_error({msg}) AS BIGINT) "
            f"WHEN length({hay}) = 0 OR length({sub}) = 0 THEN 0 "
            f"ELSE CAST(coalesce(try_element_at({positions}, "
            f"CAST({n} AS INT)), 0) AS BIGINT) END)"
        )

    if name == "mod" and len(a) == 2:
        # MathFunctions.mod(double/real) is Java's `%` — IEEE fmod:
        # a zero divisor yields NaN, never an error — while Spark's
        # mod ANSI-raises REMAINDER_BY_ZERO (r17; the same contract
        # as the frontend's `%` operator rewrite, which cannot see
        # the call form). Fires when either argument is statically
        # float-typed (Presto coerces the other numeric side up);
        # fmod of two float32s is exact in float32, so computing in
        # double and narrowing is exact.
        kinds = {_static_arg_type(raw) for raw in args}
        if kinds & {"double", "real"}:
            t = "DOUBLE" if "double" in kinds else "FLOAT"
            nan = stash_lit(stash, "NaN")
            x, y = a
            return (
                f"CAST((CASE WHEN ({x}) IS NULL OR ({y}) IS NULL "
                f"THEN CAST(NULL AS {t}) "
                f"WHEN ({y}) = CAST(0 AS {t}) THEN CAST({nan} AS {t}) "
                f"ELSE CAST(CAST(({x}) AS DOUBLE) % ({y}) AS {t}) "
                f"END) AS {t})"
            )
        return None

    if name in ("greatest", "least") and len(a) >= 1:
        # MathFunctions.java greatest/least: ANY NULL argument makes
        # the result NULL (Presto), where Spark's greatest/least
        # SKIP nulls; the 1-arg form (legal in Presto, rejected by
        # Spark) is the identity. A NaN argument RAISES in the
        # reference ONLY when the bound type is DOUBLE
        # (AbstractGreatestLeast.generate emits checkNotNaN solely
        # for StandardTypes.DOUBLE — ADVICE r16 #2): pure-REAL
        # argument lists compare through with `>`/`<`, where NaN
        # never wins a comparison, so the result is the running
        # best of the non-NaN tail — NaN only when the FIRST
        # argument is NaN. Spark instead treats NaN as the largest
        # value; replay the reference order by pinning arg 0's NaN
        # and demoting later NaN args to the never-winning infinity.
        if len(a) == 1:
            return f"({a[0]})"
        float_kinds = {_static_arg_type(raw) for raw in args
                       if _static_arg_type(raw) in ("double", "real")}
        nan_guard = ""
        call_args = list(a)
        if "double" in float_kinds:
            float_args = [x for x, raw in zip(a, args)
                          if _static_arg_type(raw) in ("double",
                                                       "real")]
            msg = stash_lit(
                stash, f"Invalid argument to {name}(): NaN")
            nan_cond = " OR ".join(f"isnan(({x}))"
                                   for x in float_args)
            nan_guard = (f"WHEN {nan_cond} THEN "
                         f"CAST(raise_error({msg}) AS DOUBLE) ")
        elif float_kinds == {"real"}:
            lose = stash_lit(
                stash, "-Infinity" if name == "greatest"
                else "Infinity")
            nan_guard = (f"WHEN isnan(({a[0]})) THEN "
                         f"CAST(({a[0]}) AS FLOAT) ")
            call_args = [a[0]] + [
                f"IF(isnan(({x})), CAST({lose} AS FLOAT), ({x}))"
                for x in a[1:]]
        null_guard = " OR ".join(f"({x}) IS NULL" for x in a)
        return (
            f"(CASE WHEN {null_guard} THEN NULL "
            f"{nan_guard}"
            f"ELSE {name}({', '.join(call_args)}) END)"
        )

    if name in ("is_nan", "is_finite", "is_infinite") and len(a) == 1:
        # @SqlNullable in the reference: NULL input -> NULL; Spark's
        # isnan returns false for NULL
        fn = {
            "is_nan": f"isnan(CAST({a[0]} AS DOUBLE))",
            "is_finite": (
                f"(NOT isnan(CAST({a[0]} AS DOUBLE)) AND "
                f"abs(CAST({a[0]} AS DOUBLE)) != CAST('Infinity' AS DOUBLE))"
            ),
            "is_infinite": (
                f"(abs(CAST({a[0]} AS DOUBLE)) = CAST('Infinity' AS DOUBLE))"
            ),
        }[name]
        return (
            f"(CASE WHEN ({a[0]}) IS NULL THEN CAST(NULL AS BOOLEAN) "
            f"ELSE {fn} END)"
        )

    if name == "zip" and len(a) >= 2:
        # ZipFunction.java: positional element-wise zip to an array of
        # rows, shorter arrays padded with NULL fields — exactly
        # Spark's arrays_zip (field NAMES differ: Spark uses source
        # expressions vs Presto's anonymous row; positional access is
        # identical)
        return f"arrays_zip({', '.join(a)})"

    if name == "word_stem" and len(a) == 2:
        # WordStemFunction.java 2-arg form; only the English stemmer
        # is carried (the container has no Snowball library — the
        # 1-arg UDF is a documented s-stemmer approximation)
        lang = lit_of(args[1], stash)
        if lang is not None and lang.strip().lower() == "en":
            return f"word_stem({a[0]})"
        return None

    if name in ("json_extract", "json_extract_scalar") and len(a) == 2:
        # JsonPath bracket fields use double quotes in Presto
        # ($["foo.bar"], JsonExtract.java tokenizePath); Spark's
        # get_json_object wants single quotes — normalize literal
        # paths, leave dynamic ones to the name mapping
        path = lit_of(args[1], stash)
        if path is not None and '["' in path:
            fixed = path.replace('["', "['").replace('"]', "']")
            return (
                f"get_json_object({a[0]}, {stash_lit(stash, fixed)})"
            )
        return None

    if name == "combine_hash" and len(a) == 2:
        # CombineHashFunction.java:28: 31 * prev + value with Java
        # 64-bit wraparound — exact DECIMAL(38) arithmetic mapped
        # back to the signed range (mirrors functions/scalar.py's
        # combine_hash; no UDF so full-range BIGINT never transits a
        # float batch)
        two63 = "CAST('9223372036854775808' AS DECIMAL(38,0))"
        two64 = "CAST('18446744073709551616' AS DECIMAL(38,0))"
        return (
            f"CAST(pmod(CAST({a[0]} AS DECIMAL(38,0)) * 31 + "
            f"CAST({a[1]} AS DECIMAL(38,0)) + {two63}, {two64}) "
            f"- {two63} AS BIGINT)"
        )

    if (
        name in ("spooky_hash_v2_32", "spooky_hash_v2_64", "xxhash64")
        and len(a) == 1
    ):
        # VARBINARY-returning digests (VarbinaryFunctions.java:296-320)
        # over registered hex UDFs, like the hmac family below
        return f"unhex({name}_hex({a[0]}))"

    if name == "hmac_sha256" and len(a) == 2:
        # VARBINARY return like HmacFunctions.java (the registered
        # UDF returns hex for the DataFrame path).
        return f"unhex(hmac_sha256_hex({a[0]}, {a[1]}))"

    if name in ("md5", "sha1", "sha256", "sha512") and len(a) == 1:
        # Presto's digests return VARBINARY (VarbinaryFunctions.java);
        # Spark's return lowercase hex STRINGs — unhex restores the
        # type so to_hex/to_base64 compose exactly as in Presto.
        fn = {"md5": "md5({0})", "sha1": "sha1({0})",
              "sha256": "sha2({0}, 256)", "sha512": "sha2({0}, 512)"}[name]
        return f"unhex({fn.format(a[0])})"

    if name == "to_big_endian_64" and len(a) == 1:
        # 8-byte big-endian two's complement (VarbinaryFunctions.java
        # toBigEndian64) — hex() of BIGINT is already BE two's
        # complement, left-padded to the full width.
        return f"unhex(lpad(hex(CAST({a[0]} AS BIGINT)), 16, {stash_lit(stash, '0')}))"

    if name == "from_big_endian_64" and len(a) == 1:
        # conv() reads the hex as UNSIGNED 64-bit; values >= 2^63
        # wrap back to the negative range via the 2^64 complement
        # (exact in DECIMAL(20,0)). Exactly 8 bytes or raise
        # (VarbinaryFunctions.java:182 — r13 leniency conversion).
        badlen = _raise(
            f"concat({stash_lit(stash, 'expected 8-byte input, but got instead: ')}, "
            f"CAST(length({a[0]}) AS STRING))", "BIGINT")
        h = f"hex({a[0]})"
        u = f"CAST(conv({h}, 16, 10) AS DECIMAL(20, 0))"
        return (
            f"(CASE WHEN {a[0]} IS NULL THEN CAST(NULL AS BIGINT) "
            f"WHEN length({a[0]}) != 8 THEN {badlen} ELSE "
            f"CAST((CASE WHEN {u} >= 9223372036854775808 "
            f"THEN {u} - 18446744073709551616 ELSE {u} END) AS BIGINT) "
            f"END)"
        )

    if name in ("array_min", "array_max") and len(a) == 1:
        x = a[0]
        nan = stash_lit(stash, "NaN")
        has_nan = (
            f"coalesce(exists({x}, e -> CAST(e AS STRING) = {nan}), false)"
        )
        has_null = f"coalesce(exists({x}, e -> e IS NULL), false)"
        first_nan = (
            f"element_at(filter({x}, e -> CAST(e AS STRING) = {nan}), 1)"
        )
        return (
            f"(CASE WHEN {has_nan} THEN {first_nan} "
            f"WHEN {has_null} THEN NULL "
            f"ELSE {name}({x}) END)"
        )

    if name == "approx_percentile" and len(a) in (3, 4):
        # ApproximateLongPercentileAggregations.java:40-80 (0.235
        # arg order): 3-arg with a DOUBLE third is (value, p,
        # ACCURACY) — Spark's percentile_approx takes accuracy as
        # ~1/relative-error INT; 3-arg with a BIGINT third is
        # (value, p, WEIGHT) — lowered to Spark's exact
        # percentile(value, p, frequency) (the digest is
        # element-returning, exact percentile interpolates:
        # documented divergence on even-weight medians). 4-arg is
        # (value, p, weight, accuracy); the digest accuracy knob has
        # no exact-percentile analog and is dropped.
        third = args[2].strip()
        if len(a) == 3 and re.fullmatch(r"0?\.\d+|\d+\.\d*(?:[eE]-?\d+)?",
                                        third):
            try:
                acc = float(third)
            except ValueError:
                return None
            if 0.0 < acc < 1.0:
                return (
                    f"percentile_approx({a[0]}, {a[1]}, "
                    f"{max(1, int(round(1.0 / acc)))})"
                )
            return None
        # anything else (integer literal or a column expression) is
        # the weighted form — accuracy is in practice always a
        # sub-1 double literal
        return f"percentile({a[0]}, {a[1]}, CAST({a[2]} AS BIGINT))"

    if name in ("lag", "lead") and len(a) in (2, 3):
        # Presto accepts any BIGINT offset; a NULL offset yields NULL
        # (LagFunction.java:55-75 — note: NULL, not the default), and
        # offsets past the partition yield the default. Spark's
        # lag/lead require a foldable INT offset — a NULL or
        # super-int literal offset is normalized to INT_MAX, which is
        # equivalent for any partition under 2^31 rows (the NULL form
        # also drops the default, matching Presto's NULL-not-default
        # contract).
        off = args[1].strip()
        is_null = re.fullmatch(
            r"(?is)null|CAST\s*\(\s*NULL\s+AS\s+\w+\s*\)", off
        )
        if is_null:
            return f"{name}({a[0]}, 2147483647)"
        def _lit_digit(mm: re.Match) -> str:
            text = lit_of(mm.group(1), stash)
            return text if text is not None and text.isdigit() else "x"

        plain = re.sub(
            r"(?is)CAST\s*\(\s*(\x00s\d+\x00)\s*AS\s*"
            r"(?:BIGINT|INTEGER|INT)\s*\)",
            _lit_digit,
            off,
        )
        if re.fullmatch(r"[\d\s*+()-]+", plain):
            try:
                val = int(eval(plain, {"__builtins__": {}}))
            except Exception:
                return None
            if val > 2147483647:
                tail = f", {a[2]}" if len(a) == 3 else ""
                return f"{name}({a[0]}, 2147483647{tail})"
        return None

    # ---- AGGREGATE TEMPLATES ---------------------------------------------
    # Presto aggregate semantics Spark's twins diverge from, found by
    # porting the reference's per-aggregate tests
    # (presto-main/src/test/.../operator/aggregation/). Each template
    # composes several Spark aggregates; the duplicated aggregate
    # subexpressions are textually identical, so Catalyst computes
    # each underlying aggregate once per group.

    if name == "avg" and len(a) == 1:
        # DecimalAverageAggregation.java:197-207: avg over
        # decimal(p, s) KEEPS the input type — sum/count rounded
        # HALF_UP at scale s. Spark's avg derives (p+4, s+4) and
        # never rounds back, a wrong-VALUE divergence for every
        # decimal avg. Conversion for statically-typed args: widen
        # the argument by k = (34-p)//2 scale digits, average at
        # scale s+k+4, then ROUND at s and cast to (p, s).
        # Exactness bounds (both provable from the widened types):
        #   - double rounding impossible for groups n < 5*10^(k+4)
        #     (|S/n - half-point| >= 1/(2n) > the s+k+4-scale
        #     perturbation);
        #   - the internal sum accumulator (38, s+k) holds
        #     n < 10^(38-p-k) max-magnitude values. k = (34-p)//2
        #     equalizes the two at ~10^((42-p)/2) — 10^15 for money
        #     (12,2) types. Beyond the second bound Spark raises
        #     where the reference's overflow-counter state keeps
        #     averaging — a raise, never a wrong value. p > 30
        #     (k < 2) declines: bounds too weak to claim.
        ps = decimal_cast_type(args[0])
        if ps is None:
            return None
        p, s = ps
        k = (34 - p) // 2
        if k < 2:
            return None
        return (f"CAST(ROUND(avg(CAST({a[0]} AS "
                f"DECIMAL({p + k}, {s + k}))), {s}) "
                f"AS DECIMAL({p}, {s}))")

    if name == "sum" and len(a) == 1:
        # DecimalSumAggregation.java: sum over decimal(p, s) is
        # decimal(38, s) with 38-digit overflow raising. Spark
        # derives decimal(min(38, p+10), s) — same scale, but the
        # ACCUMULATOR is narrower for p < 28 (a > 10^(p+10) group
        # total raises in Spark where the reference keeps summing).
        # Widening a statically-typed decimal argument to
        # decimal(28, s) makes Spark's own rule land exactly on
        # (38, s) — accumulation semantics AND declared type match
        # with no outer cast, so OVER/FILTER call shapes compose
        # unchanged. Non-decimal / non-static args pass through.
        ps = decimal_cast_type(args[0])
        if ps is None:
            return None
        p, s = ps
        if p >= 28:
            return None  # Spark's own rule already lands at (38, s)
        return f"sum(CAST({a[0]} AS DECIMAL(28, {s})))"

    if name == "skewness" and len(a) == 1:
        # CentralMomentsAggregation.java:58-68: n < 3 -> NULL; the
        # formula sqrt(n)*m3/m2^1.5 matches Spark's exactly, but a
        # zero-variance group is NaN (Java 0.0/0.0) where Spark
        # yields NULL. n >= 3 with a NULL Spark result can only mean
        # zero variance (all-null input falls in the n < 3 branch).
        x = f"CAST({a[0]} AS DOUBLE)"
        nan = stash_lit(stash, "NaN")
        return (
            f"(CASE WHEN count({x}) < 3 THEN CAST(NULL AS DOUBLE) "
            f"WHEN skewness({x}) IS NULL THEN CAST({nan} AS DOUBLE) "
            f"ELSE skewness({x}) END)"
        )

    if name == "kurtosis" and len(a) == 1:
        # CentralMomentsAggregation.java:70-86: Presto returns the
        # SAMPLE excess kurtosis G2 = (n-1)/((n-2)(n-3)) *
        # ((n+1)(g2+3) - 3(n-1)) where g2 is Spark's population
        # excess kurtosis; n < 4 -> NULL; zero variance -> NaN
        # (Java 0/0).
        x = f"CAST({a[0]} AS DOUBLE)"
        n = f"count({x})"
        ks = f"kurtosis({x})"
        nan = stash_lit(stash, "NaN")
        return (
            f"(CASE WHEN {n} < 4 THEN CAST(NULL AS DOUBLE) "
            f"WHEN {ks} IS NULL THEN CAST({nan} AS DOUBLE) "
            f"ELSE (CAST({n} - 1 AS DOUBLE) / (({n} - 2) * ({n} - 3)))"
            f" * (({n} + 1) * ({ks} + 3) - 3 * ({n} - 1)) END)"
        )

    if name == "corr" and len(a) == 2:
        # DoubleCorrelationAggregation.java:49-58: non-finite
        # (n < 2 or zero variance) -> NULL. Spark's own corr RAISES
        # DIVIDE_BY_ZERO under ANSI for a zero-variance side, so the
        # rewrite computes covar/(sd*sd) directly with a nullif
        # guard. Presto's state only advances when BOTH inputs are
        # non-null — the CASE pair-filters each side the same way.
        px = (
            f"(CASE WHEN {a[0]} IS NOT NULL AND {a[1]} IS NOT NULL "
            f"THEN CAST({a[0]} AS DOUBLE) END)"
        )
        py = (
            f"(CASE WHEN {a[0]} IS NOT NULL AND {a[1]} IS NOT NULL "
            f"THEN CAST({a[1]} AS DOUBLE) END)"
        )
        return (
            f"(covar_samp({px}, {py}) / nullif(stddev_samp({px}) * "
            f"stddev_samp({py}), CAST(0 AS DOUBLE)))"
        )

    if name == "entropy" and len(a) == 1:
        # EntropyAggregation.java: log-2 entropy of count fractions;
        # count < 0 raises, count = 0 contributes nothing, empty or
        # zero-sum input -> 0.0 (not NULL), output clamped at >= 0.
        c = a[0]
        msg = stash_lit(
            stash, "Entropy count argument must be non-negative"
        )
        sc = (
            f"sum(CASE WHEN {c} < 0 THEN "
            f"CAST(raise_error({msg}) AS BIGINT) "
            f"ELSE CAST({c} AS BIGINT) END)"
        )
        slc = (
            f"sum(CASE WHEN {c} < 0 THEN "
            f"CAST(raise_error({msg}) AS DOUBLE) "
            f"WHEN {c} = 0 THEN CAST(0 AS DOUBLE) "
            f"ELSE CAST({c} AS DOUBLE) * ln(CAST({c} AS DOUBLE)) END)"
        )
        return (
            f"(CASE WHEN {sc} > 0 THEN "
            f"greatest((ln(CAST({sc} AS DOUBLE)) - {slc} / {sc}) / "
            f"ln(CAST(2 AS DOUBLE)), CAST(0 AS DOUBLE)) "
            f"ELSE CAST(0 AS DOUBLE) END)"
        )

    if name == "geometric_mean" and len(a) == 1:
        # LongGeometricMeanAggregation/DoubleGeometricMeanAggregation:
        # exp(mean(log x)) with Java log semantics — log(0) = -Inf
        # (exp -> 0.0), log(neg) = NaN (propagates); empty -> NULL.
        # Spark's ln() would NULL those out, so the CASE spells the
        # Java values explicitly.
        x = a[0]
        ninf = stash_lit(stash, "-Infinity")
        nan = stash_lit(stash, "NaN")
        return (
            f"exp(avg(CASE WHEN {x} IS NULL THEN CAST(NULL AS DOUBLE) "
            f"WHEN {x} > 0 THEN ln(CAST({x} AS DOUBLE)) "
            f"WHEN {x} = 0 THEN CAST({ninf} AS DOUBLE) "
            f"ELSE CAST({nan} AS DOUBLE) END))"
        )

    if name in ("bitwise_and_agg", "bitwise_or_agg") and len(a) == 1:
        # BitwiseAndAggregation/BitwiseOrAggregation -> BIGINT; the
        # CAST pins the 64-bit result type for narrower inputs.
        fn = "bit_and" if name == "bitwise_and_agg" else "bit_or"
        return f"{fn}(CAST({a[0]} AS BIGINT))"

    if name == "histogram" and len(a) == 1:
        # HistogramAggregation: map value -> count(BIGINT); null
        # inputs ignored (collect_list drops them), empty -> NULL.
        arr = f"collect_list({a[0]})"
        keys = f"array_distinct({arr})"
        return (
            f"(CASE WHEN size({arr}) = 0 THEN NULL "
            f"ELSE map_from_arrays({keys}, transform({keys}, "
            f"__hk -> CAST(size(filter({arr}, __hv -> __hv <=> __hk)) "
            f"AS BIGINT))) END)"
        )

    if name == "map_agg" and len(a) == 2:
        # MapAggregationFunction via KeyValuePairs: null keys
        # skipped, duplicate keys keep the FIRST occurrence
        # (TypedSet.contains gate), empty -> NULL.
        lk, lv = stash_lit(stash, "k"), stash_lit(stash, "v")
        entries = (
            f"collect_list(CASE WHEN {a[0]} IS NOT NULL THEN "
            f"named_struct({lk}, {a[0]}, {lv}, {a[1]}) END)"
        )
        keys = f"array_distinct(transform({entries}, __me -> __me.k))"
        return (
            f"(CASE WHEN size({entries}) = 0 THEN NULL "
            f"ELSE map_from_arrays({keys}, transform({keys}, "
            f"__mk -> element_at(filter({entries}, "
            f"__me -> __me.k <=> __mk), 1).v)) END)"
        )

    if name == "multimap_agg" and len(a) == 2:
        # MultimapAggregationFunction: key -> array of ALL values in
        # arrival order; null keys skipped, empty -> NULL.
        lk, lv = stash_lit(stash, "k"), stash_lit(stash, "v")
        entries = (
            f"collect_list(CASE WHEN {a[0]} IS NOT NULL THEN "
            f"named_struct({lk}, {a[0]}, {lv}, {a[1]}) END)"
        )
        keys = f"array_distinct(transform({entries}, __me -> __me.k))"
        return (
            f"(CASE WHEN size({entries}) = 0 THEN NULL "
            f"ELSE map_from_arrays({keys}, transform({keys}, "
            f"__mk -> transform(filter({entries}, "
            f"__me -> __me.k <=> __mk), __me -> __me.v))) END)"
        )

    if name == "checksum" and len(a) == 1:
        # ChecksumAggregationFunction.java:107-132: order-independent
        # wrapping-64-bit sum of per-row type.hash * PRIME64 terms
        # (null rows add PRIME64), emitted as the state's 8 LITTLE-
        # endian bytes (wrappedLongArray -> VARBINARY). The per-row
        # term is the registered presto_checksum_term UDF
        # (functions/xxhash.py — reference type-hash mixes + public
        # XXH64); the sum runs exact in DECIMAL and wraps once.
        x = a[0]
        bin_t = stash_lit(stash, "binary")
        rendered = (
            f"(CASE WHEN typeof({x}) = {bin_t} THEN hex({x}) "
            f"ELSE CAST({x} AS STRING) END)"
        )
        tot = (
            f"(CAST(sum(presto_checksum_term({rendered}, typeof({x}))) "
            f"AS DECIMAL(38, 0)) % 18446744073709551616)"
        )
        signed = (
            f"CAST((CASE WHEN {tot} >= 9223372036854775808 "
            f"THEN {tot} - 18446744073709551616 ELSE {tot} END) AS BIGINT)"
        )
        zero = stash_lit(stash, "0")
        hx = f"lpad(hex({signed}), 16, {zero})"
        le = ", ".join(
            f"substr({hx}, {pos}, 2)" for pos in (15, 13, 11, 9, 7, 5, 3, 1)
        )
        return (
            f"(CASE WHEN count(*) = 0 THEN CAST(NULL AS BINARY) "
            f"ELSE unhex(concat({le})) END)"
        )

    if name == "map_union" and len(a) == 1:
        # MapUnionAggregation: union of the input maps; duplicate
        # keys keep the value from the FIRST map that contained the
        # key (KeyValuePairs gate), null map inputs ignored
        # (collect_list drops them), empty -> NULL.
        ents = f"flatten(collect_list(map_entries({a[0]})))"
        keys = f"array_distinct(transform({ents}, __ue -> __ue.key))"
        return (
            f"(CASE WHEN count({a[0]}) = 0 THEN NULL "
            f"ELSE map_from_arrays({keys}, transform({keys}, "
            f"__uk -> element_at(filter({ents}, "
            f"__ue -> __ue.key <=> __uk), 1).value)) END)"
        )

    if name in ("min_by", "max_by") and len(a) == 3:
        # AbstractMinMaxByNAggregationFunction: array of x for the n
        # largest/smallest keys y; null keys ignored, empty -> NULL.
        # Presto leaves key ties arbitrary — the comparator breaks
        # them by value ascending so the result is deterministic
        # (and matches an ORDER BY key [DESC], value oracle).
        lk, lv = stash_lit(stash, "k"), stash_lit(stash, "v")
        if name == "max_by":
            cmp_ = (
                "CASE WHEN __l.k < __r.k THEN 1 "
                "WHEN __l.k > __r.k THEN -1 "
                "WHEN __l.v < __r.v THEN -1 "
                "WHEN __l.v > __r.v THEN 1 ELSE 0 END"
            )
        else:
            cmp_ = (
                "CASE WHEN __l.k < __r.k THEN -1 "
                "WHEN __l.k > __r.k THEN 1 "
                "WHEN __l.v < __r.v THEN -1 "
                "WHEN __l.v > __r.v THEN 1 ELSE 0 END"
            )
        pairs = (
            f"array_sort(collect_list(CASE WHEN {a[1]} IS NOT NULL "
            f"THEN named_struct({lk}, {a[1]}, {lv}, {a[0]}) END), "
            f"(__l, __r) -> {cmp_})"
        )
        return (
            f"(CASE WHEN size({pairs}) = 0 THEN NULL "
            f"ELSE transform(slice({pairs}, 1, CAST({a[2]} AS INT)), "
            f"__mb -> __mb.v) END)"
        )

    if name in ("min", "max") and len(a) == 2:
        # MinNAggregation/MaxNAggregation: 2-arg min/max returns the
        # n smallest/largest values as an array (Presto has no 2-arg
        # scalar min/max, but only a bare integer-literal capacity is
        # rewritten to keep the template conservative). Nulls
        # ignored, empty -> NULL.
        try:
            cap = int(args[1].strip())
        except ValueError:
            return None
        arr = f"array_sort(collect_list({a[0]}))"
        if name == "max":
            picked = f"slice(reverse({arr}), 1, {cap})"
        else:
            picked = f"slice({arr}, 1, {cap})"
        return (
            f"(CASE WHEN size({arr}) = 0 THEN NULL "
            f"ELSE {picked} END)"
        )

    if name == "array_agg" and len(a) >= 1:
        # ArrayAggregationFunction (FeaturesConfig.legacyArrayAgg
        # defaults false in 0.235): null inputs are KEPT; Spark's
        # collect_list drops them — the struct wrap smuggles nulls
        # through, preserving arrival order. Empty -> NULL. The
        # ORDER BY form (SortedAccumulatorFactory) sorts the struct
        # pairs with an explicit comparator — Presto's sort-item
        # defaults (ASC, NULLS LAST for both directions,
        # PlannerUtils.java:39-51) spelled per key.
        if args[0].lstrip().upper().startswith("DISTINCT "):
            return None
        parsed = _parse_order_by_items(args)
        if parsed is None:
            return None
        value, keys = parsed
        lv = stash_lit(stash, "v")
        if not keys:
            if len(args) != 1:
                return None
            arr = f"collect_list(named_struct({lv}, ({value})))"
            return (
                f"(CASE WHEN size({arr}) = 0 THEN NULL "
                f"ELSE transform({arr}, __aa -> __aa.v) END)"
            )
        fields = [f"{lv}, ({value})"]
        clauses: list[str] = []
        for i, (key, direction, nulls_last) in enumerate(keys):
            kn = stash_lit(stash, f"k{i}")
            fields.append(f"{kn}, ({key})")
            null_side = "1" if nulls_last else "-1"
            null_other = "-1" if nulls_last else "1"
            lt = "-1" if direction > 0 else "1"
            gt = "1" if direction > 0 else "-1"
            clauses.append(
                f"WHEN __l.k{i} IS NULL AND __r.k{i} IS NOT NULL "
                f"THEN {null_side} "
                f"WHEN __l.k{i} IS NOT NULL AND __r.k{i} IS NULL "
                f"THEN {null_other} "
                f"WHEN __l.k{i} < __r.k{i} THEN {lt} "
                f"WHEN __l.k{i} > __r.k{i} THEN {gt}"
            )
        cmp_ = "CASE " + " ".join(clauses) + " ELSE 0 END"
        arr = (
            f"array_sort(collect_list(named_struct({', '.join(fields)})), "
            f"(__l, __r) -> {cmp_})"
        )
        return (
            f"(CASE WHEN size({arr}) = 0 THEN NULL "
            f"ELSE transform({arr}, __aa -> __aa.v) END)"
        )

    return None


def rewrite_scalar_templates(
    masked: str, stash: list[tuple[str, str]]
) -> str:
    """Apply every scalar call template over the masked SQL text.

    Arguments are rewritten FIRST (recursively — chr(codepoint(x))
    lowers inside-out), then the scan position advances past the
    emitted replacement: several templates legitimately emit their
    own function name (regexp_extract's guard, array_min's fallback)
    and must never be re-matched."""
    pos = 0
    while True:
        m = _SCALAR_CALL.search(masked, pos)
        if m is None:
            break
        open_i = m.end() - 1
        try:
            past = balanced(masked, open_i)
        except ValueError:
            break
        inner = rewrite_scalar_templates(masked[open_i + 1 : past - 1], stash)
        args = split_top(inner)
        name = m.group(1).lower()
        if name in _AGG_TEMPLATE_NAMES and (
            _AGG_SUFFIX_RE.match(masked, past)
            or (name != "array_agg" and _has_agg_modifier(args))
        ):
            # window/FILTER/ORDER BY/DISTINCT site: verbatim
            # (array_agg handles its own ORDER BY form in-template)
            repl = None
            # decimal window AVG is the exception: the reference's
            # DecimalAverageAggregation applies to window frames
            # identically, so consume the OVER (...) clause into the
            # widen-round-cast rewrite (r15 — windowed money
            # averages previously kept Spark's (p+4, s+4) typing)
            if name == "avg" and len(args) == 1 \
                    and not _has_agg_modifier(args):
                om = re.match(r"\s*OVER\s*\(", masked[past:],
                              re.IGNORECASE)
                if om:
                    try:
                        wpast = balanced(
                            masked, past + om.end() - 1)
                    except ValueError:
                        wpast = None
                    if wpast is not None:
                        repl = _decimal_avg_window(
                            args, masked[past:wpast])
                        if repl is not None:
                            past = wpast
        else:
            repl = _rewrite_one(name, args, stash)
        if repl is None:
            # Splice the (possibly arg-rewritten) call back verbatim.
            repl = masked[m.start() : open_i + 1] + inner + ")"
        masked = masked[: m.start()] + repl + masked[past:]
        pos = m.start() + len(repl)
    return masked
