"""Differential fuzz for the r14 column-operand decimal rewriter.

Random two- and three-operand expressions over CAST-typed VALUES
columns (+,-,*,/,% with random precisions/scales, literal mixing and
parenthesized groups) are evaluated through the SQL front door and
compared against a PYTHON model of the reference's derivation
(DecimalOperators.java:91,251,316,480 — the same rules
`_rewrite_decimal_column_arith` emits, implemented independently here
with decimal.Decimal so an emission bug and a model bug cannot
cancel). Since r14 #2 the rewriter covers EVERY statically-derivable
site: where the pure-Spark emission cannot be proven exact it routes
through the exact-arithmetic UDF (functions/udfs.presto_decimal_*),
so the model no longer skips those — only the analysis-reject
multiply (result scale > 38) stays out of scope.

Deterministic seed; one spark round trip for all cases (chunked
VALUES), so the 120-case sweep costs ~2 queries.
"""

from __future__ import annotations

import random
from decimal import ROUND_DOWN, ROUND_HALF_UP, Decimal, localcontext

import pytest

from presto_0_235_spark.sql.frontend import run_sql

SEED = 20260815


def _rewriter_declines(op, p1, s1, p2, s2):
    """Mirror of _decimal_arith_emit's remaining decline: only the
    analysis-reject multiply (result scale > 38 — Presto refuses the
    TYPE) stays un-rewritten; every other site now emits either the
    provably-exact pure-Spark form or the exact-arithmetic UDF."""
    return op == "*" and s1 + s2 > 38


def _presto_binop(op, a, p1, s1, b, p2, s2):
    """Reference derivation; returns (value, rp, rs) or None when the
    op raises/derives an illegal type (skipped in the fuzz)."""
    if _rewriter_declines(op, p1, s1, p2, s2):
        return None
    with localcontext() as ctx:
        ctx.prec = 130
        if op in "+-":
            rs = max(s1, s2)
            rp = min(38, max(p1 - s1, p2 - s2) + rs + 1)
            v = a + b if op == "+" else a - b
        elif op == "*":
            rs = s1 + s2
            if rs > 38:
                return None
            rp = min(38, p1 + p2)
            v = a * b
        elif op == "/":
            if b == 0:
                return None
            rs = max(s1, s2)
            rp = min(38, p1 + s2 + max(0, s2 - s1))
            v = (a / b).quantize(Decimal(1).scaleb(-rs),
                                 rounding=ROUND_HALF_UP)
        else:
            if b == 0:
                return None
            rs = max(s1, s2)
            rp = min(38, max(1, min(p1 - s1, p2 - s2) + rs))
            v = a.copy_sign(1) % b.copy_sign(1)
            v = v.copy_sign(a) if v != 0 else Decimal(0)
        v = v.quantize(Decimal(1).scaleb(-rs))
        if abs(int(v.scaleb(rs))) >= 10 ** rp:
            return None  # reference overflow raise
        return v, rp, rs


def _rand_value(rng, p, s):
    digits = rng.randint(1, min(p, 6))
    raw = rng.randint(0, 10 ** digits - 1) * rng.choice((1, -1))
    return Decimal(raw).scaleb(-s).quantize(Decimal(1).scaleb(-s))


def _gen_cases(n):
    rng = random.Random(SEED)
    cases = []
    while len(cases) < n:
        op = rng.choice("+-*/%")
        p1, p2 = rng.randint(2, 18), rng.randint(2, 18)
        s1 = rng.randint(0, min(p1 - 1, 6))
        s2 = rng.randint(0, min(p2 - 1, 6))
        a, b = _rand_value(rng, p1, s1), _rand_value(rng, p2, s2)
        got = _presto_binop(op, a, p1, s1, b, p2, s2)
        if got is None:
            continue
        v, rp, rs = got
        # optionally chain a third operand (same precedence tier so
        # left-associativity is exercised)
        if rng.random() < 0.4:
            op2 = rng.choice("*/" if op in "*/%" else "+-")
            p3 = rng.randint(2, 12)
            s3 = rng.randint(0, min(p3 - 1, 4))
            c = _rand_value(rng, p3, s3)
            got2 = _presto_binop(op2, v, rp, rs, c, p3, s3)
            if got2 is None:
                continue
            v2, rp2, rs2 = got2
            expr = (f"CAST(x AS DECIMAL({p1},{s1})) {op} "
                    f"CAST(y AS DECIMAL({p2},{s2})) {op2} "
                    f"CAST(z AS DECIMAL({p3},{s3}))")
            cases.append((expr, (a, b, c), v2, rp2, rs2))
        else:
            expr = (f"CAST(x AS DECIMAL({p1},{s1})) {op} "
                    f"CAST(y AS DECIMAL({p2},{s2}))")
            cases.append((expr, (a, b, Decimal(0)), v, rp, rs))
    return cases


@pytest.mark.parametrize("chunk", range(3))
def test_decimal_column_arith_fuzz(spark, chunk):
    cases = _gen_cases(120)[chunk * 40:(chunk + 1) * 40]
    selects = []
    for i, (expr, (a, b, c), _v, _rp, _rs) in enumerate(cases):
        selects.append(
            f"SELECT {i} AS id, CAST(({expr}) AS STRING) AS got, "
            f"typeof({expr}) AS t FROM (VALUES "
            f"(CAST('{a}' AS DOUBLE), CAST('{b}' AS DOUBLE), "
            f"CAST('{c}' AS DOUBLE))) t(x, y, z)")
    df = run_sql(spark, " UNION ALL ".join(selects))
    rows = {r["id"]: r for r in df.collect()}
    bad = []
    for i, (expr, _vals, v, rp, rs) in enumerate(cases):
        got = rows[i]["got"]
        typ = rows[i]["t"]
        want = str(v.quantize(Decimal(1).scaleb(-rs)))
        if Decimal(got) != Decimal(want) or typ != f"decimal({rp},{rs})":
            bad.append((expr, got, typ, want, f"decimal({rp},{rs})"))
    assert not bad, bad[:5]
