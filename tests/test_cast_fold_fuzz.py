"""Differential fuzz for the r15 literal folds.

1. Bare-literal -> integral casts (frontend._fold_decimal_literal_casts):
   a bare dotted literal is DECIMAL in the reference, so the cast
   rounds HALF_UP (DecimalCasts.java); an exponent literal is DOUBLE
   and goes through Math.round = floor(x + 0.5)
   (DoubleOperators.castToLong). Random literals and integral
   targets are evaluated through the SQL front door and compared
   against an independent Python model of those two rules.

2. Literal float comparisons (frontend._fold_float_literal_compare):
   random operand pairs drawn from {nan(), infinity(),
   CAST(num AS DOUBLE/REAL/DECIMAL(p,s))} with random comparison
   operators, modeled with Python IEEE floats (float32 via struct
   for the REAL coercion domain). Decimal-vs-decimal pairs are
   excluded (the exact-decimal fold's domain).

Deterministic seed; chunked single-query sweeps like the decimal
column fuzz (one spark round trip per ~40 cases).
"""

from __future__ import annotations

import math
import random
import struct
from decimal import ROUND_HALF_UP, Decimal
from fractions import Fraction

import pytest

from presto_0_235_spark.sql.frontend import run_sql

SEED = 20260816

_INT_RANGES = {
    "TINYINT": (-128, 127),
    "SMALLINT": (-(2 ** 15), 2 ** 15 - 1),
    "INTEGER": (-(2 ** 31), 2 ** 31 - 1),
    "BIGINT": (-(2 ** 63), 2 ** 63 - 1),
}


def _chunks(items, n):
    for i in range(0, len(items), n):
        yield items[i:i + n]


def _run_chunked(spark, exprs):
    out = []
    for chunk in _chunks(exprs, 40):
        sel = ", ".join(f"({e}) AS c{i}" for i, e in enumerate(chunk))
        row = run_sql(spark, f"SELECT {sel}").first()
        out.extend(row[i] for i in range(len(chunk)))
    return out


def test_bare_literal_integral_cast_fuzz(spark):
    rng = random.Random(SEED)
    cases = []  # (expr, expected int)
    while len(cases) < 100:
        typ = rng.choice(list(_INT_RANGES))
        lo, hi = _INT_RANGES[typ]
        ip = rng.randint(0, 10 ** rng.randint(1, 6))
        fp = rng.randint(0, 10 ** rng.randint(1, 4) - 1)
        fdigits = rng.randint(1, 4)
        sign = rng.choice(["", "-"])
        if rng.random() < 0.5:
            # dotted literal: DECIMAL source, HALF_UP
            lit = f"{sign}{ip}.{fp:0{fdigits}d}"
            want = int(
                Decimal(lit).quantize(Decimal(1),
                                      rounding=ROUND_HALF_UP))
        else:
            # exponent literal: DOUBLE source. The reference rounds
            # half AWAY FROM ZERO on the exact binary double
            # (DoubleMath.roundToLong(v, HALF_UP),
            # DoubleOperators.java:240; sign-aware MathFunctions.round
            # for the smaller types, MathFunctions.java:757-758).
            # Oracle derived independently of the implementation via
            # exact Fraction arithmetic on the parsed double.
            exp = rng.randint(-2, 3)
            lit = f"{sign}{ip}.{fp:0{fdigits}d}E{exp}"
            v = Fraction(float(lit))  # exact binary value
            fl = v.numerator // v.denominator
            rem = v - fl
            if rem > Fraction(1, 2):
                want = fl + 1
            elif rem < Fraction(1, 2):
                want = fl
            else:  # exact tie: away from zero
                want = fl + 1 if v > 0 else fl
        if not lo <= want <= hi:
            continue  # overflow raises in both engines; out of scope
        cases.append((f"CAST({lit} AS {typ})", want))
    got = _run_chunked(spark, [e for e, _ in cases])
    for (expr, want), val in zip(cases, got):
        assert val == want, (expr, want, val)


def _f32(x: float) -> float:
    return struct.unpack("<f", struct.pack("<f", x))[0]


_OPS = {
    "=": lambda a, b: a == b,
    "<>": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    ">": lambda a, b: a > b,
    "<=": lambda a, b: a <= b,
    ">=": lambda a, b: a >= b,
}


def test_float_literal_compare_fuzz(spark):
    rng = random.Random(SEED + 1)

    def operand():
        kind = rng.choice(["nan", "inf", "double", "real", "dec"])
        if kind == "nan":
            return "nan()", ("double", float("nan"))
        if kind == "inf":
            return "infinity()", ("double", float("inf"))
        ip = rng.randint(0, 1000)
        fp = rng.randint(0, 99)
        text = f"{ip}.{fp:02d}"
        if kind == "double":
            return f"CAST({text} AS DOUBLE)", ("double", float(text))
        if kind == "real":
            return f"CAST({text} AS REAL)", ("real", _f32(float(text)))
        p = rng.randint(6, 12)
        return (f"CAST({text} AS DECIMAL({p},2))",
                ("dec", Decimal(text)))

    cases = []
    while len(cases) < 80:
        (ea, (ka, va)) = operand()
        (eb, (kb, vb)) = operand()
        if ka == kb == "dec":
            continue  # exact-decimal fold's domain
        op = rng.choice(list(_OPS))
        if "double" in (ka, kb):
            fa, fb = float(va), float(vb)
        else:
            fa, fb = _f32(float(va)), _f32(float(vb))
        want = _OPS[op](fa, fb)
        cases.append((f"{ea} {op} {eb}", want))
    got = _run_chunked(spark, [e for e, _ in cases])
    for (expr, want), val in zip(cases, got):
        assert val == want, (expr, want, val)


def test_int_division_chain_fuzz(spark):
    """r15 chain extension of _int_div_pass: random */%-chains of
    CAST-typed int columns and literals ending in '/' sites must
    compute the reference's truncating integer division end-to-end
    (TestIntegerOperators: quotient truncates toward zero, sign
    follows the dividend). Model: Python int() truncation replayed
    left-associatively. Div-by-zero and overflow shapes excluded
    (raise discipline is pinned in the error corpus)."""
    rng = random.Random(SEED + 2)
    cases = []  # (expr text using column a, a value, expected)
    while len(cases) < 60:
        a = rng.randint(-50, 50)
        n_ops = rng.randint(1, 3)
        ops, lits = [], []
        for _ in range(n_ops):
            ops.append(rng.choice("*/%"))
            lits.append(rng.randint(1, 9) * rng.choice([1, -1]))
        if "/" not in ops:
            continue
        # model: left-associative int arithmetic, '/' and '%'
        # truncating toward zero like Java
        val = a
        ok = True
        for op, b in zip(ops, lits):
            if op == "*":
                val = val * b
            elif op == "/":
                q = abs(val) // abs(b)
                val = q if (val >= 0) == (b >= 0) else -q
            else:
                r = abs(val) % abs(b)
                val = r if val >= 0 else -r
            if not -(2 ** 31) <= val <= 2 ** 31 - 1:
                ok = False
                break
        if not ok:
            continue
        expr = "CAST(a AS INTEGER)"
        for op, b in zip(ops, lits):
            expr += f" {op} CAST({b} AS INTEGER)"
        cases.append((a, expr, val))
    # one VALUES row per case; chunked UNION ALL selects
    got = []
    for chunk in _chunks(cases, 30):
        union = " UNION ALL ".join(
            f"SELECT {i} AS cid, ({e}) AS v FROM (VALUES ({a})) t(a)"
            for i, (a, e, _) in enumerate(chunk))
        rows = {r.cid: r.v for r in run_sql(spark, union).collect()}
        got.extend(rows[i] for i in range(len(chunk)))
    for (a, expr, want), val in zip(cases, got):
        assert val == want, (a, expr, want, val)
