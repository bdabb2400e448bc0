"""REAL / REAL division — float32 IEEE semantics (r14).

The reference computes REAL division in FLOAT32 with IEEE semantics
(RealOperators; TestRealOperators.java:76-83 testDivide pins
12.34f/56.78f AND REAL'-0.0'/REAL'0.0' -> NaN — i.e. zero divisors
produce NaN/Infinity, never a raise). Spark promotes float division
to DOUBLE and ANSI-raises on zero divisors, so the front door
rewrites statically-REAL pairs (`sql/frontend._rewrite_real_division`)
to the IEEE form: CAST(a/b AS FLOAT) is EXACTLY float32 division
(double carries >= 2*24+2 mantissa bits — the classic benign
double-rounding bound for division), with explicit signed-Infinity /
NaN arms for zero divisors and float32-overflow quotients.

Expected values computed with struct-float32 emulation of the Java
float expressions the reference test declares.
"""

from __future__ import annotations

import math
import struct

import pytest

from presto_0_235_spark.sql.frontend import run_sql


def f32(x: float) -> float:
    return struct.unpack("f", struct.pack("f", x))[0]


def _one(spark, sql):
    df = run_sql(spark, sql)
    return df.schema[0].dataType.simpleString(), df.collect()[0][0]


# the five TestRealOperators.testDivide vectors (:78-82), on literal
# AND column operands (the column form pins the rewrite, not folding)
VECTORS = [
    ("12.34", "56.78"),
    ("-17.34", "-22.891"),
    ("-89.123", "754.0"),
    ("-17.71", "-1.0"),
    ("43.8", "6.0"),
]


@pytest.mark.parametrize("a,b", VECTORS)
def test_real_division_is_float32(spark, a, b):
    want = f32(f32(float(a)) / f32(float(b)))
    typ, got = _one(spark, f"SELECT REAL'{a}' / REAL'{b}' AS r")
    assert typ == "float" and got == want, (a, b, got, want)
    typ, got = _one(
        spark,
        f"SELECT CAST(x AS REAL) / CAST(y AS REAL) AS r "
        f"FROM (VALUES ({a}, {b})) t(x, y)")
    assert typ == "float" and got == want, (a, b, got, want)


def test_real_division_ieee_zero_divisor(spark):
    # TestRealOperators.java:81 — REAL'-0.0' / REAL'0.0' is NaN
    _, got = _one(spark, "SELECT REAL'-0.0' / REAL'0.0' AS r")
    assert math.isnan(got)
    _, got = _one(spark, "SELECT REAL'1.0' / REAL'0.0' AS r")
    assert got == float("inf")
    _, got = _one(spark, "SELECT REAL'1.0' / REAL'-0.0' AS r")
    assert got == float("-inf")
    _, got = _one(spark, "SELECT REAL'-1.0' / REAL'0.0' AS r")
    assert got == float("-inf")


def test_real_division_overflow_and_null(spark):
    # a float32-overflowing quotient is Infinity in float arithmetic
    # (the ANSI double->float cast raise would be wrong-behavior)
    _, got = _one(
        spark,
        "SELECT CAST(x AS REAL) / CAST(y AS REAL) AS r "
        "FROM (VALUES (3e38, 0.5)) t(x, y)")
    assert got == float("inf")
    _, got = _one(spark, "SELECT CAST(NULL AS REAL) / REAL'2.0' AS r")
    assert got is None


def test_double_division_is_ieee(spark):
    # r16 REVERSAL of the r14 "pinned by neither side" reading: the
    # value-pin extraction surfaced reference rows that DO pin IEEE
    # double division — TestMathFunctions.java testRound carries
    # round(1.0E0 / 0, 2) = Infinity as an assertFunction VALUE row
    # — so statically-double `/` now computes signed Infinity/NaN
    # via frontend._rewrite_double_division instead of keeping
    # Spark's ANSI raise
    _, got = _one(spark, "SELECT 1e0 / 0e0 AS r")
    assert got == float("inf")
    _, got = _one(spark, "SELECT -1e0 / 0 AS r")
    assert got == float("-inf")
    t, got = _one(spark, "SELECT 0.0e0 / 0.0e0 AS r")
    assert math.isnan(got) and t == "double"
    # nan()/infinity() are DOUBLE-typed operands on either side of the
    # operator, so a zero divisor gives IEEE NaN/Infinity here too
    # (DoubleOperators.divide / modulus are Java's `/` and `%`)
    t, got = _one(spark, "SELECT 0 / nan() AS r")
    assert math.isnan(got) and t == "double"
    t, got = _one(spark, "SELECT nan() / 0 AS r")
    assert math.isnan(got) and t == "double"
    _, got = _one(spark, "SELECT infinity() / 0 AS r")
    assert got == float("inf")
    _, got = _one(spark, "SELECT -infinity() / 0 AS r")
    assert got == float("-inf")
    t, got = _one(spark, "SELECT nan() % 0 AS r")
    assert math.isnan(got) and t == "double"
