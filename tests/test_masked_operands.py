"""The front door's readers (sql/masked.py), pure.

Every operand form must scan to the same extent and the same Presto
static type reading forward from its first character and backward
from its last, with the form embedded between two binary operators the
way the rewrite passes meet it. The CAST splitter, the constructor
reader and the angle-bracket matcher are pinned on nested and on
unbalanced text."""

from __future__ import annotations

import pytest

from presto_0_235_spark.sql.masked import (
    angle_close, balanced, balanced_back, ctor_at, operand_back,
    operand_fwd, operand_span, skip_signs, split_cast, split_top,
    unary_start)

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
    # untyped forms: every typed pass filters on the type
    ("t.col", None, False, ""),
    ("f(a, b)", None, False, ""),
    ("ARRAY[1, 2]", None, False, ""),
    ("ARRAY [1, 2][1]", None, False, ""),
    ("m[\x00s5\x00]", None, False, ""),
    ("MAP(ARRAY[1], ARRAY[2])", None, False, ""),
    ("DATE \x00s4\x00", None, False, ""),
    ("IPADDRESS \x00s4\x00", None, False, ""),
    ("NULL", None, False, ""),
    ("(1, 2)", None, False, ""),
    ("(a + b)", None, False, "+"),
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
    "AND (5)",              # a reserved word heads no call
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


def test_reserved_words_are_no_operands():
    # a reserved word neither names an operand nor heads a group: the
    # operand before `* 2` is the paren group alone
    text = "WHERE a AND (5) * 2"
    op = operand_back(text, text.index(")") + 1)
    assert (op.start, op.type) == (text.index("("), "int")
    assert operand_fwd("x = AND", 4) is None
    assert operand_fwd("x = NOT (a)", 4) is None


def test_whitespace_is_skipped():
    op = operand_fwd("x =   t.col  ", 3)
    assert (op.start, op.end) == (6, 11)
    op = operand_back("t.col   = x", 8)
    assert (op.start, op.end) == (0, 5)


@pytest.mark.parametrize("text,at,start", [
    ("SELECT -1 || a", 8, 7),            # after a reserved word
    ("SELECT - -1 || a", 10, 7),         # repeated signs
    ("f(-1 || a", 3, 2),                 # after an opening bracket
    ("x -> -1 || a", 6, 5),              # after a lambda arrow
    ("SELECT 1 - 1 || a", 11, 11),       # binary: an operand ends before
    ("SELECT a.b - 1 || a", 13, 13),
    ("SELECT f(x) - 1 || a", 14, 14),
    # END closes a CASE: the sign after it is binary
    ("CASE WHEN a THEN 1 ELSE 2 END - 1 || x", 32, 32),
    ("CASE WHEN a THEN 1 ELSE -1 END", 25, 24),   # ELSE opens an operand
])
def test_unary_start(text, at, start):
    assert unary_start(text, at) == start


@pytest.mark.parametrize("text,at,past", [
    ("a || -1", 4, 6),
    ("a || - + 1", 4, 9),
    ("a || 1", 4, 5),
    ("a ||", 4, 4),
])
def test_skip_signs(text, at, past):
    assert skip_signs(text, at) == past


@pytest.mark.parametrize("body,split", [
    ("x AS INTEGER", ("x", "INTEGER")),
    (" CAST(y AS INT)  AS  BIGINT ", ("CAST(y AS INT)", "BIGINT")),
    ("x AS ROW(a ARRAY(INTEGER), b MAP(VARCHAR, DOUBLE))",
     ("x", "ROW(a ARRAY(INTEGER), b MAP(VARCHAR, DOUBLE))")),
    ("ROW(1 AS a) AS ROW(a INT)", ("ROW(1 AS a)", "ROW(a INT)")),
    ("x AS MAP<VARCHAR, ARRAY<INT>>", ("x", "MAP<VARCHAR, ARRAY<INT>>")),
    ("x", None),
    ("f(x AS INT)", None),               # only a top-level AS splits
    ("xAS INT", None),
])
def test_split_cast(body, split):
    assert split_cast(body) == split


@pytest.mark.parametrize("text,head,parts,end", [
    ("ARRAY[1, 2]", "ARRAY", ["1", "2"], 11),
    ("array [ ]", "ARRAY", [], 9),
    ("MAP(ARRAY[1], ARRAY[2]) = x", "MAP", ["ARRAY[1]", "ARRAY[2]"], 23),
    ("ROW(1, (2, 3))", "ROW", ["1", "(2, 3)"], 14),
    ("(1, NULL)", "", ["1", "NULL"], 9),
    ("CAST(x AS ROW(a ARRAY(INTEGER), b MAP(VARCHAR, DOUBLE)))", "CAST",
     ["x AS ROW(a ARRAY(INTEGER), b MAP(VARCHAR, DOUBLE))"], 56),
    ("f (a)[1]", "F", ["a"], 5),
])
def test_ctor_at(text, head, parts, end):
    c = ctor_at(text)
    assert (c.head, c.parts, c.end) == (head, parts, end)


@pytest.mark.parametrize("text", [
    "ARRAY[1, 2",            # unbalanced
    "ROW(1, (2)",
    "ARRAY(1, 2)",           # ARRAY takes square brackets only
    "m[1]",                  # a subscript is not a constructor
    "t.col",
    "",
])
def test_ctor_at_declines(text):
    assert ctor_at(text) is None


def test_ctor_at_offset():
    text = "x = ROW(1, 2) AND y"
    c = ctor_at(text, 4)
    assert (c.head, c.inner, text[c.end:]) == ("ROW", "1, 2", " AND y")


@pytest.mark.parametrize("text,open_i,past", [
    ("ARRAY<INT>", 5, 10),
    ("MAP<VARCHAR, ARRAY<DECIMAL(10, 2)>>) > 3", 3, 35),
    ("STRUCT<a: ROW<b INT>, c: INT>", 6, 29),
])
def test_angle_close(text, open_i, past):
    assert angle_close(text, open_i) == past


@pytest.mark.parametrize("text", ["ARRAY<INT", "ARRAY<DECIMAL(10>, 2)"])
def test_angle_close_unbalanced(text):
    with pytest.raises(ValueError):
        angle_close(text, 5)


def test_split_top_separators():
    assert split_top("ARRAY[1] || (a || b) || f(x, y)", "||") == \
        ["ARRAY[1]", "(a || b)", "f(x, y)"]
    assert split_top("a: MAP<VARCHAR, INT>, b: DECIMAL(10, 2)",
                     angles=True) == ["a: MAP<VARCHAR, INT>",
                                      "b: DECIMAL(10, 2)"]
    assert split_top("a < b, c > d") == ["a < b", "c > d"]
