"""The front door's typed-operand scanner (sql/masked.py), pure.

Every form must scan to the same extent and the same Presto static
type reading forward from its first character and backward from its
last, with the form embedded between two binary operators the way the
rewrite passes meet it."""

from __future__ import annotations

import pytest

from presto_0_235_spark.sql.masked import (
    balanced, balanced_back, operand_back, operand_fwd, operand_span,
    split_top)

# (form, type, lit, ops)
FORMS = [
    ("7", "int", True, ""),
    ("2147483648", "bigint", True, ""),
    ("9223372036854775807", "bigint", True, ""),
    ("12.50", ("decimal", 4, 2), True, ""),
    # leading integer zeros carry no precision (Decimals.parse)
    ("0.5", ("decimal", 1, 1), True, ""),
    ("007.25", ("decimal", 3, 2), True, ""),
    ("1.5e3", "double", True, ""),
    ("2E-4", "double", True, ""),
    ("CAST(a AS TINYINT)", "tinyint", False, ""),
    ("CAST(a AS SMALLINT)", "smallint", False, ""),
    ("CAST(a AS INTEGER)", "int", False, ""),
    ("CAST(a AS INT)", "int", False, ""),
    ("TRY_CAST(a AS BIGINT)", "bigint", False, ""),
    ("CAST(a AS DECIMAL(12, 2))", ("decimal", 12, 2), False, ""),
    ("CAST(a AS DECIMAL(7))", ("decimal", 7, 0), False, ""),
    ("CAST(a AS REAL)", "real", False, ""),
    ("CAST(a AS FLOAT)", "real", False, ""),
    ("CAST(a AS DOUBLE)", "double", False, ""),
    ("CAST(a AS CHAR(3))", ("char", 3), False, ""),
    ("CAST(a AS VARCHAR)", None, False, ""),
    ("CAST(f(a, b) AS DOUBLE)", "double", False, ""),
    ("count(*)", "bigint", False, ""),
    ("count(DISTINCT a)", "bigint", False, ""),
    ("sum(CAST(a AS INT))", "bigint", False, ""),
    ("max(CAST(a AS SMALLINT))", "smallint", False, ""),
    ("avg(CAST(a AS INT))", "double", False, ""),
    ("avg(CAST(a AS REAL))", "real", False, ""),
    ("sum(CAST(a AS DECIMAL(12, 2)))", None, False, ""),
    ("sum(CAST(a AS DOUBLE)) OVER (PARTITION BY b ORDER BY c)",
     "double", False, ""),
    ("count(*) OVER w", "bigint", False, ""),
    ("min(CAST(a AS BIGINT)) OVER ()", "bigint", False, ""),
    ("nan()", "double", False, ""),
    ("infinity()", "double", False, ""),
    ("\x00s4\x00", "varchar", False, ""),
    ("(5)", "int", True, ""),
    ("(-5)", "int", True, ""),
    ("(CAST(a AS INT) + CAST(b AS BIGINT))", "bigint", False, "+"),
    ("(CAST(a AS DOUBLE) - 1)", "double", False, "-"),
    ("(CAST(a AS REAL) * 2)", "real", False, "*"),
    ("(CAST(a AS DECIMAL(10, 2)) + CAST(b AS DECIMAL(5, 3)))",
     ("decimal", 12, 3), False, "+"),
    ("(CAST(a AS DECIMAL(10, 2)) * 3)", ("decimal", 20, 2), False, "*"),
    ("((CAST(a AS INT) % 7) - -CAST(b AS INT))", "int", False, "-%"),
    ("(1 + 2)", "int", False, "+"),
    ("(CAST(a AS INT) / 2)", "int", False, "/"),
    ("(CAST(a AS DOUBLE) + CAST(b AS INT))", "double", False, "+"),
]


@pytest.mark.parametrize("form,typ,lit,ops", FORMS,
                         ids=[f[0].replace("\x00", "$") for f in FORMS])
def test_forward_and_backward_agree(form, typ, lit, ops):
    text = f"x + {form} * 2"
    start, end = 4, 4 + len(form)
    for op in (operand_fwd(text, start), operand_back(text, end)):
        assert op is not None
        assert (op.start, op.end) == (start, end)
        assert (op.type, op.lit, op.ops) == (typ, lit, ops)


DECLINES = [
    "abs(5)",               # an identifier-adjacent call
    "t.5",                  # a literal glued to a name
    "count(a) FILTER (WHERE b > 0)",
    "approx_percentile(a, 0.5) WITHIN GROUP (ORDER BY a)",
    "max(a, 3)",            # Presto's 2-arg max returns an array
    "9223372036854775808",  # an integer beyond BIGINT
    "(a + b)",              # untyped operands: no Presto type to derive
]


@pytest.mark.parametrize("form", DECLINES)
def test_declines(form):
    text = f"x + {form} * 2"
    fwd = operand_fwd(text, 4)
    back = operand_back(text, 4 + len(form))
    typed = [op for op in (fwd, back)
             if op is not None and (op.start, op.end) == (4, 4 + len(form))
             and op.type is not None]
    assert typed == []


def test_unbalanced_parens_decline():
    assert operand_fwd("x + (CAST(a AS INT) * 2", 4) is None
    assert operand_fwd("x + CAST(a AS INT * 2", 4) is None
    assert operand_back("x + CAST(a AS INT)) * 2", 19) is None


def test_span_is_the_whole_text():
    assert operand_span("  -CAST(a AS DOUBLE)  ").type == "double"
    assert operand_span("CAST(a AS INT) IS NULL") is None
    assert operand_span("1, 2") is None
    assert operand_span("CAST(a AS DECIMAL(12, 2))").type == \
        ("decimal", 12, 2)


def test_brackets_and_commas():
    s = "f(a, [b, (c)], d)"
    assert balanced(s, 1) == len(s)
    assert balanced_back(s, len(s)) == 1
    assert balanced(s, 5) == 13
    assert split_top(s[2:-1]) == ["a", "[b, (c)]", "d"]
    with pytest.raises(ValueError):
        balanced("(a", 0)
    with pytest.raises(ValueError):
        balanced_back("a)", 2)
