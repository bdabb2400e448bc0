"""Values and types of the operand forms the typed-operand scanner
(sql/masked.py) types for the front door's rewrite passes.

Each row is one operand shape a pass now recognizes through the shared
scanner: aggregate results, negated and parenthesized casts, mixed
integral/floating chains, CHAR operands and decimal literals. The
expected values are Presto 0.235's, cited inline; Spark's own
semantics differ on every row (truncating casts, ANSI division by
zero, BIGINT ceil, unpadded CHAR, Spark's decimal widths)."""

from __future__ import annotations

import math
from decimal import Decimal

import pytest

from presto_0_235_spark.sql.frontend import run_sql

INF = float("inf")
NAN = float("nan")

CASES = [
    # avg(integer) is DOUBLE; the cast to integral rounds HALF_UP
    # (DoubleOperators.castToInteger)
    ("avg_int_cast_rounds",
     "SELECT CAST(avg(CAST(x AS INTEGER)) AS INTEGER) "
     "FROM (VALUES 2, 3) t(x)", (3,)),
    ("negated_double_cast_rounds",
     "SELECT CAST(-CAST(x AS DOUBLE) AS BIGINT) FROM (VALUES 2.5) t(x)",
     (-3,)),
    ("paren_double_column_cast_rounds",
     "SELECT CAST((CAST(x AS DOUBLE)) AS INTEGER) FROM (VALUES 2.5) t(x)",
     (3,)),
    # sum(real) is REAL (RealSumAggregation); REAL division by zero is
    # IEEE (RealOperators.divide)
    ("real_sum_division_by_zero",
     "SELECT sum(CAST(r AS REAL)) / sum(CAST(z AS REAL)), "
     "typeof(sum(CAST(r AS REAL)) / sum(CAST(z AS REAL))) "
     "FROM (VALUES (1, 0), (2, 0)) t(r, z)", (INF, "float")),
    # min/max keep decimal(10,2); decimal(10,2) * decimal(5,1) is
    # decimal(15,3) (DecimalOperators.java:251-252)
    ("min_decimal_times_decimal",
     "SELECT min(CAST(d AS DECIMAL(10,2))) * CAST(2 AS DECIMAL(5,1)), "
     "typeof(min(CAST(d AS DECIMAL(10,2))) * CAST(2 AS DECIMAL(5,1))) "
     "FROM (VALUES 1.25, 3.5) t(d)", (Decimal("2.500"), "decimal(15,3)")),
    # double + integer is DOUBLE: division and modulus by zero are IEEE
    # (DoubleOperators.divide / modulus, MathFunctions.mod)
    ("mixed_chain_division_by_zero",
     "SELECT (CAST(x AS DOUBLE) + CAST(y AS INTEGER)) / 0 "
     "FROM (VALUES (1.5, 1)) t(x, y)", (INF,)),
    ("mixed_chain_modulus_by_zero",
     "SELECT (CAST(x AS DOUBLE) + CAST(y AS INTEGER)) % 0, "
     "mod(CAST(x AS DOUBLE) + CAST(y AS INTEGER), 0) "
     "FROM (VALUES (1.5, 1)) t(x, y)", (NAN, NAN)),
    # ceil(integer) is INTEGER (MathFunctions.ceilingInteger)
    ("ceil_int_chain_keeps_integer",
     "SELECT typeof(ceil(CAST(x AS INTEGER) + CAST(y AS INTEGER))) "
     "FROM (VALUES (1, 2)) t(x, y)", ("int",)),
    # CHAR comparisons pad to the common length; a varchar operand
    # coerces to char at its own length
    ("paren_char_cast_padded",
     "SELECT (CAST(c AS CHAR(3))) = 'a ' FROM (VALUES 'a') t(c)", (True,)),
    ("min_char_padded",
     "SELECT min(CAST(c AS CHAR(3))) = 'a ' FROM (VALUES 'a', 'b') t(c)",
     (True,)),
    # 0.5 is decimal(1,1): leading integer zeros carry no precision
    # (Decimals.parse), so decimal(10,2) * 0.5 is decimal(11,3)
    ("decimal_literal_leading_zero",
     "SELECT CAST(x AS DECIMAL(10,2)) * 0.5, "
     "typeof(CAST(x AS DECIMAL(10,2)) * 0.5) FROM (VALUES 1.25) t(x)",
     (Decimal("0.625"), "decimal(11,3)")),
    # literal arithmetic folds type each literal as Decimals.parse
    # does: 0.1, 0.2 and 0.5 are decimal(1,1), 0.25 is decimal(2,2)
    # (add/sub DecimalOperators.java:91-92, multiply :251-252)
    ("decimal_typed_literal_sum_leading_zero",
     "SELECT DECIMAL '0.1' + DECIMAL '0.2', "
     "typeof(DECIMAL '0.1' + DECIMAL '0.2')",
     (Decimal("0.3"), "decimal(2,1)")),
    ("decimal_literal_product_leading_zero",
     "SELECT 0.5 * 0.5, typeof(0.5 * 0.5)",
     (Decimal("0.25"), "decimal(2,2)")),
    ("decimal_literal_sum_leading_zero",
     "SELECT 0.5 + 0.25, typeof(0.5 + 0.25)",
     (Decimal("0.75"), "decimal(3,2)")),
    ("decimal_typed_literal_product_leading_zero",
     "SELECT DECIMAL '0.5' * DECIMAL '0.5', "
     "typeof(DECIMAL '0.5' * DECIMAL '0.5')",
     (Decimal("0.25"), "decimal(2,2)")),
    # an exponent literal is one DOUBLE operand: its exponent digits
    # are not a literal of their own for the literal folds
    ("exponent_literal_divided",
     "SELECT 79.18e-2 / 2", (0.3959,)),
    ("exponent_literal_times_decimal",
     "SELECT 4.5e-1 * 2.0", (0.9,)),
    # a VALUES column mixing TINYINT/SMALLINT with DECIMAL unifies
    # through tinyint -> decimal(3,0) and smallint -> decimal(5,0)
    # (TypeRegistry), so the column is decimal(3,1) / decimal(5,1)
    # and x * 2 (integer -> decimal(10,0)) is decimal(14,1) /
    # decimal(16,1)
    ("values_tinyint_decimal_unify",
     "SELECT x * 2, typeof(x * 2) FROM "
     "(VALUES (TINYINT '1'), (DECIMAL '1.5')) t(x) ORDER BY x LIMIT 1",
     (Decimal("2.0"), "decimal(14,1)")),
    ("values_smallint_decimal_unify",
     "SELECT x * 2, typeof(x * 2) FROM "
     "(VALUES (SMALLINT '1'), (DECIMAL '1.5')) t(x) ORDER BY x LIMIT 1",
     (Decimal("2.0"), "decimal(16,1)")),
]


def _same(got, want):
    if isinstance(want, float) and math.isnan(want):
        return isinstance(got, float) and math.isnan(got)
    return got == want


@pytest.mark.parametrize("sql,expected", [c[1:] for c in CASES],
                         ids=[c[0] for c in CASES])
def test_typed_operand_form(spark, sql, expected):
    row = tuple(run_sql(spark, sql).collect()[0])
    assert len(row) == len(expected)
    assert all(_same(g, w) for g, w in zip(row, expected)), row


def test_greatest_over_mixed_chain_rejects_nan(spark):
    # AbstractGreatestLeast: a NaN DOUBLE argument raises
    with pytest.raises(Exception,
                       match=r"Invalid argument to greatest\(\): NaN"):
        run_sql(spark, "SELECT greatest(CAST(x AS DOUBLE) + "
                "CAST(y AS INTEGER), nan()) "
                "FROM (VALUES (1.5, 1)) t(x, y)").collect()
