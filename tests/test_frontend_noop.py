"""Adversarial NO-OP fuzzing of the SQL front-door rewrite passes
(r10, VERDICT next-round #1).

The r9 ADVICE bugs (_rewrite_apply corrupting any query containing a
non-lambda ``apply(`` token; nested ORDER BY missing NULLS LAST)
lived in rewrite passes the reference corpus never exercised with
LOOK-ALIKE tokens. This suite pins, for every rewrite pass, that
text which merely RESEMBLES the pass's trigger comes through
byte-identical:

- trigger tokens inside string literals, comments, and quoted
  identifiers (the _mask guarantee),
- near-miss code tokens (``x.apply``, ``misapply(``, ``try_cast``,
  ``ordering``, columns named like keywords),
- the trigger's non-rewritable forms (1-arg ``apply``, single-arg
  ``grouping``, ORDER BY items that already carry NULLS markers).

Each entry runs through the FULL presto_to_spark_sql pipeline — a
pass interfering outside its trigger is exactly the bug class this
guards against.
"""

from __future__ import annotations

import pytest

from presto_0_235_spark.sql.frontend import presto_to_spark_sql

# SQL texts that contain look-alike trigger tokens but no genuine
# Presto-only construct: the pipeline must return them byte-identical.
NOOP_TEXTS = [
    # ---- apply (r9 bug: non-lambda apply( corrupted the query) ----
    "SELECT apply(a) FROM t",
    "SELECT apply(a, b) FROM t",  # 2-arg but no lambda
    "SELECT apply (x) FROM apply_log",
    "SELECT x.apply FROM t",
    "SELECT misapply(a, x) FROM t",
    "SELECT applying, applyx FROM t WHERE reapply = 1",
    # ---- TRY ----
    "SELECT try_cast_result, trying FROM t WHERE retry > 1",
    "SELECT tryst(a) FROM country",
    # ---- ARRAY literal ----
    "SELECT arrays, array_col FROM t",
    "SELECT subarray(a, 1, 2) FROM t",
    # ---- MAP ctor (trigger is MAP( followed by array() ) ----
    "SELECT map_col, mapping FROM remap",
    "SELECT bitmap(a) FROM t",
    # ---- ROW ctor / type ----
    "SELECT rows, rowcount, arrow FROM t",
    "SELECT grow(a) FROM t",
    # ---- UNNEST ----
    "SELECT unnested, nest FROM t",
    # ---- quantified (ALL/ANY/SOME) ----
    "SELECT tally, anya, somec FROM t",
    "SELECT a FROM t WHERE ball > 1 AND canyon < 2",
    # ---- subscript near-miss: function call then bracket-free ----
    "SELECT f(a), g FROM t",
    # ---- url functions ----
    "SELECT url_col, urlx FROM t",
    # ---- function-name map near-misses ----
    "SELECT strposition, lengthy FROM t",
    # ---- grouping: single-arg stays Spark grouping() ----
    "SELECT grouping(a) FROM t GROUP BY ROLLUP(a)",
    "SELECT regrouping, grouping_sets_col FROM t",
    # ---- tablesample ----
    "SELECT a FROM tablesampler",
    "SELECT tablesample_pct FROM t",
    # ---- bare null predicate (only a WHOLE bare NULL rewrites) ----
    "SELECT a FROM t WHERE nullable = 1",
    "SELECT a FROM t WHERE x IS NULL",
    "SELECT a FROM t WHERE NULL IS NULL",
    # ---- order-by: explicit NULLS markers must not double-append ----
    "SELECT a FROM t ORDER BY a NULLS LAST",
    "SELECT a FROM t ORDER BY a DESC NULLS FIRST",
    "SELECT a FROM t ORDER BY a ASC NULLS LAST, b DESC NULLS FIRST",
    "SELECT a FROM t ORDER BY a NULLS LAST LIMIT 5",
    # ---- varchar: parameterized + word-embedded stay ----
    "SELECT a_varchar10, varchar_col FROM t",
    "SELECT varchars FROM t",
    # ---- call templates (r10): near-misses stay verbatim ----
    "SELECT nancy, infinity_col FROM t",
    "SELECT count(x), count(DISTINCT y) FROM t",
    "SELECT reduce_agg_result, map_agg_like FROM t",
    "SELECT reduce_agg(a, b) FROM t",  # wrong arity: verbatim
    "SELECT a FROM t WHERE b IN (1, 2, 3)",
    # ---- combinations ----
    "SELECT x.apply, tryst(rows), unnested FROM tablesampler "
    "WHERE nullable = 1",
]

# Texts where ONLY the documented transform may apply, and literal /
# comment segments embedding every trigger token must survive
# byte-identical.
LITERAL_PAYLOADS = [
    "apply(a, x -> b)",
    "TRY(1/0)",
    "ARRAY[1, 2]",
    "MAP(ARRAY(1), ARRAY(2))",
    "ROW(1, 2)",
    "UNNEST(arr)",
    "a > ALL (SELECT 1)",
    "x[1]",
    "url_extract_host(u)",
    "GROUPING(a, b)",
    "TABLESAMPLE BERNOULLI (10)",
    "WHERE NULL",
    "ORDER BY a DESC",
    "CAST(a AS VARCHAR)",
    "strpos(a, b)",
    "it''s -- not a comment",
]


@pytest.mark.parametrize(
    "sql", NOOP_TEXTS, ids=[t[:48] for t in NOOP_TEXTS]
)
def test_near_miss_code_is_untouched(sql):
    assert presto_to_spark_sql(sql) == sql


@pytest.mark.parametrize(
    "payload", LITERAL_PAYLOADS, ids=[p[:32] for p in LITERAL_PAYLOADS]
)
def test_trigger_tokens_inside_string_literals(payload):
    lit = "'" + payload.replace("'", "''") + "'"
    sql = f"SELECT {lit} AS c FROM t"
    assert presto_to_spark_sql(sql) == sql


@pytest.mark.parametrize(
    "payload", LITERAL_PAYLOADS, ids=[p[:32] for p in LITERAL_PAYLOADS]
)
def test_trigger_tokens_inside_line_comments(payload):
    sql = f"SELECT a FROM t -- {payload}"
    assert presto_to_spark_sql(sql) == sql


@pytest.mark.parametrize(
    "payload", LITERAL_PAYLOADS, ids=[p[:32] for p in LITERAL_PAYLOADS]
)
def test_trigger_tokens_inside_block_comments(payload):
    sql = f"SELECT a /* {payload} */ FROM t"
    assert presto_to_spark_sql(sql) == sql


@pytest.mark.parametrize(
    "payload",
    [p for p in LITERAL_PAYLOADS if "'" not in p],
    ids=[p[:32] for p in LITERAL_PAYLOADS if "'" not in p],
)
def test_trigger_tokens_inside_quoted_identifiers(payload):
    """Presto "ident" becomes Spark `ident` — the CONTENT must come
    through verbatim even when it spells a trigger token."""
    sql = f'SELECT a AS "{payload}" FROM t'
    expect = f"SELECT a AS `{payload}` FROM t"
    assert presto_to_spark_sql(sql) == expect


def test_rewrites_still_fire_outside_literals():
    """Guard the guard: the same tokens OUTSIDE literals must still
    rewrite (this suite must not be satisfiable by disabling the
    rewriters)."""
    out = presto_to_spark_sql("SELECT apply(a, x -> x + 1) FROM t")
    # r12: apply inlines the lambda body (scalar_templates) instead of
    # the array-wrap lowering — required for Python-UDF bodies
    assert out == "SELECT (((a)) + 1) FROM t" or "((a) + 1)" in out
    out = presto_to_spark_sql("SELECT a FROM t ORDER BY a")
    assert out == "SELECT a FROM t ORDER BY a NULLS LAST"
    out = presto_to_spark_sql("SELECT ARRAY[1, 2] FROM t")
    assert "array(1, 2)" in out
    out = presto_to_spark_sql("SELECT grouping(a, b) FROM t "
                              "GROUP BY GROUPING SETS ((a), (b))")
    assert "grouping_id(a, b)" in out


def test_mixed_literal_and_code_apply():
    """The r9 corruption shape, adversarially: a non-lambda apply(
    in code sitting NEXT to a lambda apply( and a literal spelling
    apply( — only the lambda form rewrites, everything else
    byte-identical."""
    sql = ("SELECT apply(a), apply(b, x -> x + 1), 'apply(c, y -> y)' "
           "FROM t")
    out = presto_to_spark_sql(sql)
    # r12: the lambda form INLINES (body with var substituted); the
    # non-lambda call and the literal stay byte-identical
    assert "apply(a)" in out and "'apply(c, y -> y)'" in out
    assert "apply(b" not in out and "+ 1" in out


def test_quantified_equality_forms_rewrite():
    """r10: = ANY / <> ALL / = ALL / <> ANY (Presto SqlBase.g4
    quantifiedComparison) now lower through the count-guarded CASE;
    previously they passed through and died at Spark's parser. Also:
    a comment between the op and the quantifier no longer defeats
    the rewrite."""
    for sql in (
        "SELECT a = ANY (SELECT b FROM u) FROM t",
        "SELECT a <> ALL (SELECT b FROM u) FROM t",
        "SELECT a = ALL (SELECT b FROM u) FROM t",
        "SELECT a <> ANY (SELECT b FROM u) FROM t",
        "SELECT a = /* c */ ANY (SELECT b FROM u) FROM t",
    ):
        out = presto_to_spark_sql(sql)
        assert "ANY" not in out and "ALL (" not in out, (sql, out)
        assert "CASE" in out, (sql, out)


def test_order_by_trailing_comment_not_swallowed():
    """r10 bug found by this suite: NULLS LAST appended AFTER a
    trailing line comment was swallowed by it (nulls then sorted
    first, silently). The append point must hop trailing comments."""
    out = presto_to_spark_sql("SELECT a FROM t ORDER BY a -- tail")
    assert out == "SELECT a FROM t ORDER BY a NULLS LAST -- tail"
    out = presto_to_spark_sql(
        "SELECT a FROM t ORDER BY a /* b */, c -- tail"
    )
    assert out == (
        "SELECT a FROM t ORDER BY a NULLS LAST /* b */, "
        "c NULLS LAST -- tail"
    )
    # a trailing STRING placeholder is part of the expression and
    # must not be hopped
    out = presto_to_spark_sql("SELECT a FROM t ORDER BY 'lit'")
    assert out == "SELECT a FROM t ORDER BY 'lit' NULLS LAST"


def test_nested_order_by_nulls_regression():
    """The second r9 bug: ORDER BY nested under a sort item must also
    get NULLS LAST. (r11: array_agg ORDER BY now lowers to an
    explicit array_sort comparator — its null-last default is encoded
    in the comparator, not as text — so the textual NULLS LAST pass
    covers the remaining two ORDER BYs.)"""
    sql = ("SELECT array_agg(a ORDER BY b) FROM t "
           "ORDER BY (SELECT max(x) FROM u ORDER BY y) ")
    out = presto_to_spark_sql(sql)
    assert out.count("NULLS LAST") == 2
    assert "array_sort" in out and "__l.k0 IS NULL" in out


def test_typed_literals_lowered_and_guarded():
    """r10: TYPE 'literal' (Presto typeConstructor) lowers to CAST —
    DECIMAL infers (precision, scale) from the digits — while the
    Spark-supported typed literals and near-misses stay verbatim."""
    assert presto_to_spark_sql("SELECT BIGINT '5'") == (
        "SELECT CAST('5' AS BIGINT)"
    )
    # leading integer zeros carry no precision (Decimals.java:115
    # parse(..., false): integralPart excludes group 3's zeros) —
    # r15 fix; was DECIMAL(6, 3)
    assert presto_to_spark_sql("SELECT DECIMAL '-001.250'") == (
        "SELECT CAST('-001.250' AS DECIMAL(4, 3))"
    )
    assert presto_to_spark_sql("SELECT REAL '1.5'") == (
        "SELECT CAST('1.5' AS FLOAT)"
    )
    # Spark-native typed literals pass through
    for sql in ("SELECT DATE '1970-01-01'",
                "SELECT TIMESTAMP '1970-01-01 00:00:00'",
                "SELECT INTERVAL '1' DAY"):
        assert presto_to_spark_sql(sql) == sql
    # near-misses: no string literal following / inside strings
    assert presto_to_spark_sql("SELECT decimal_col FROM t") == (
        "SELECT decimal_col FROM t"
    )
    assert presto_to_spark_sql("SELECT 'DECIMAL ''1.2''' FROM t") == (
        "SELECT 'DECIMAL ''1.2''' FROM t"
    )


def test_negated_decimal_cast_rewrite_boundaries():
    """r11: _rewrite_negated_decimal_cast must fire ONLY on a clearly
    UNARY minus before CAST(... AS DECIMAL(p>34, s)) — binary minus
    (exact in Spark) and small precisions stay verbatim."""
    # unary at statement head -> exact 0-x form (scale 0); the r14
    # column-decimal pass then wraps the binary Subtract (still
    # exact) in Presto's derived type — negate keeps (38,0)
    assert presto_to_spark_sql(
        "SELECT -CAST(a AS DECIMAL(38,0)) FROM t"
    ) == ("SELECT (CAST(((CAST(0 AS DECIMAL(10, 0))) - "
          "(CAST(a AS DECIMAL(38,0)))) AS DECIMAL(38, 0))) FROM t")
    # binary minus untouched (identifier before the '-')
    assert presto_to_spark_sql(
        "SELECT b -CAST(a AS DECIMAL(38,0)) FROM t"
    ) == "SELECT b -CAST(a AS DECIMAL(38,0)) FROM t"
    # so is the END closing a CASE
    assert presto_to_spark_sql(
        "SELECT CASE WHEN c THEN a ELSE b END - CAST(x AS DECIMAL(38,2)) "
        "FROM t"
    ) == ("SELECT CASE WHEN c THEN a ELSE b END - "
          "CAST(x AS DECIMAL(38,2)) FROM t")
    # closing paren before the '-' is binary too
    assert presto_to_spark_sql(
        "SELECT f(x) - CAST(a AS DECIMAL(38,0)) FROM t"
    ) == "SELECT f(x) - CAST(a AS DECIMAL(38,0)) FROM t"
    # precision <= 34 unaffected by the Spark bug -> verbatim
    assert presto_to_spark_sql(
        "SELECT -CAST(a AS DECIMAL(34,2)) FROM t"
    ) == "SELECT -CAST(a AS DECIMAL(34,2)) FROM t"
    # string-literal operand: sign folds INTO the literal (exact at
    # every scale)
    assert presto_to_spark_sql("SELECT -DECIMAL '1.5'") == (
        "SELECT -CAST('1.5' AS DECIMAL(2, 1))"
    )  # p=2 <= 34: left to Spark (exact there)
    out = presto_to_spark_sql(
        "SELECT -DECIMAL '123456789012345678.90123456789012345678'"
    )
    assert out == (
        "SELECT CAST('-123456789012345678.90123456789012345678' "
        "AS DECIMAL(38, 20))"
    )
    # keyword before the minus is unary (CASE branch)
    out = presto_to_spark_sql(
        "SELECT CASE WHEN x THEN -CAST(a AS DECIMAL(38,0)) END FROM t"
    )
    assert ("(CAST(((CAST(0 AS DECIMAL(10, 0))) - "
            "(CAST(a AS DECIMAL(38,0)))) AS DECIMAL(38, 0)))") in out


def test_interval_literal_padding_boundaries():
    """r11: ranged interval literals pad zero fields to the end unit;
    full-length and unranged literals stay verbatim."""
    assert presto_to_spark_sql("SELECT INTERVAL '12' DAY TO SECOND") == (
        "SELECT INTERVAL '12 0:0:0' DAY TO SECOND"
    )
    assert presto_to_spark_sql("SELECT INTERVAL '12 10' DAY TO HOUR") == (
        "SELECT INTERVAL '12 10' DAY TO HOUR"
    )
    assert presto_to_spark_sql("SELECT INTERVAL '10' HOUR TO MINUTE") == (
        "SELECT INTERVAL '10:0' HOUR TO MINUTE"
    )
    assert presto_to_spark_sql("SELECT INTERVAL '-3' YEAR TO MONTH") == (
        "SELECT INTERVAL '-3-0' YEAR TO MONTH"
    )
    # sign preserved on day-time
    assert presto_to_spark_sql(
        "SELECT INTERVAL '-12 10:45' DAY TO SECOND"
    ) == "SELECT INTERVAL '-12 10:45:0' DAY TO SECOND"
    # unranged forms stay verbatim
    for sql in ("SELECT INTERVAL '1' DAY", "SELECT INTERVAL '45' MINUTE",
                "SELECT INTERVAL '32.123' SECOND"):
        assert presto_to_spark_sql(sql) == sql
    # trigger text inside a literal is untouched
    sql = "SELECT 'INTERVAL ''12'' DAY TO SECOND' FROM t"
    assert presto_to_spark_sql(sql) == sql


def test_window_shim_boundaries():
    """r11: the ranking-window shims fire only on unordered specs and
    non-literal ntile counts."""
    # ordered ranking spec: no shim (only the standing NULLS LAST
    # ordering pass applies)
    assert presto_to_spark_sql("SELECT rank() OVER (ORDER BY a) FROM t") == (
        "SELECT rank() OVER (ORDER BY a NULLS LAST) FROM t"
    )
    # literal ntile: no bucket-arithmetic lowering
    assert presto_to_spark_sql(
        "SELECT ntile(4) OVER (ORDER BY a) FROM t"
    ) == "SELECT ntile(4) OVER (ORDER BY a NULLS LAST) FROM t"
    # unordered spec gains a constant sort key
    out = presto_to_spark_sql("SELECT cume_dist() OVER () FROM t")
    assert "ORDER BY 1" in out
    # per-row ntile lowers to bucket arithmetic
    out = presto_to_spark_sql("SELECT ntile(n) OVER (ORDER BY a) FROM t")
    assert "row_number()" in out and "count(*)" in out
