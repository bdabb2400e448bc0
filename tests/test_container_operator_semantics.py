"""r17 — container-type operator semantics (the scalar surface of
TestArrayOperators / TestMapOperators / TestRowOperators /
TestIpAddressOperators), including the COLUMN-operand spellings the
literal value-pin corpus can't cover.

Reference pins cited per case:
 - cardinality returns BIGINT (ArrayCardinalityFunction /
   MapCardinalityFunction)
 - CAST(x AS JSON) is the canonical JSON writer (JsonUtil
   JsonGeneratorWriter): rows render as ARRAYS of fields
   (TestRowOperators.java:159), map keys sort by serialized text
   (TestMapOperators.java:158,231), JSON-typed values embed raw
   (TestRowOperators.java:131), decimals in plain (non-scientific)
   form (TestMapOperators.java:200), top-level NULL is SQL NULL
   while nested nulls render as text (TestArrayOperators.java:189
   vs :191)
 - map equality / IS DISTINCT FROM compare key sets and values,
   indeterminate value comparisons make equality NULL
   (MapEqualOperator / MapDistinctFromOperator,
   TestMapOperators.java:651-740)
 - IPADDRESS casts canonicalize (v4-mapped shown dotted,
   IpAddressOperators castToVarchar) and ordering compares the
   address BYTES (TestIpAddressOperators.java:125-130)
 - TIMESTAMP '.. <zone>' literals compare as instants
   (TestArrayOperators.java:1245)
 - array || element appends/prepends (ArrayConcatFunction,
   TestArrayOperators.java:464)
 - mixed-scale decimal coercion in array_position
   (TestArrayOperators.java:679-682)
"""

from __future__ import annotations

import pytest

from presto_0_235_spark.catalog import register_views
from presto_0_235_spark.sql.frontend import run_sql


def _one(spark, sql):
    rows = run_sql(spark, sql).collect()
    assert len(rows) == 1
    return rows[0][0]


# ---------------------------------------------------------------------------
# cardinality
# ---------------------------------------------------------------------------

def test_cardinality_bigint(spark):
    df = run_sql(spark, "SELECT cardinality(ARRAY[1, 2, 3]) AS n")
    assert dict(df.dtypes)["n"] == "bigint"
    assert df.collect()[0][0] == 3
    assert _one(spark, "SELECT cardinality(MAP(ARRAY[1], ARRAY[2]))") == 1
    assert _one(spark, "SELECT cardinality(CAST(NULL AS ARRAY<INT>))") \
        is None


def test_cardinality_hll_idiom_untouched(spark, sf_dir):
    # cardinality(approx_set(x)) stays the approx_distinct lowering
    register_views(spark, sf_dir)
    n = _one(spark, "SELECT cardinality(approx_set(o_orderstatus)) "
                    "FROM orders")
    assert 1 <= n <= 3


# ---------------------------------------------------------------------------
# CAST(x AS JSON)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "expr,expected",
    [
        ("CAST(ARRAY[1, 2, null] AS JSON)", "[1,2,null]"),
        ("CAST(ARRAY[] AS JSON)", "[]"),
        ("CAST(CAST(NULL AS ARRAY<BIGINT>) AS JSON)", None),
        # map keys sort by serialized text: "1" < "13" < "2"
        ("CAST(MAP(ARRAY[7,5,3,1], ARRAY[8,6,4,2]) AS JSON)",
         '{"1":2,"3":4,"5":6,"7":8}'),
        ("CAST(MAP(ARRAY[1, 2, 13], ARRAY[1, 2, 3]) AS JSON)",
         '{"1":1,"13":3,"2":2}'),
        # rows render as arrays
        ("CAST(ROW(1, 2.0E0) AS JSON)", "[1,2.0]"),
        ("CAST(ROW(TRUE, ARRAY[1, 2]) AS JSON)", "[true,[1,2]]"),
        # JSON-typed fields embed raw; null fields render 'null'
        ("CAST(ROW(JSON '{\"a\": 1}', CAST(null AS JSON)) AS JSON)",
         '[{"a":1},null]'),
        # NaN / Infinity quoted, doubles via Java toString
        ("CAST(ARRAY[nan(), infinity(), 1e308] AS JSON)",
         '["NaN","Infinity",1.0E308]'),
        # decimals plain, full scale
        ("CAST(ARRAY[DECIMAL '3.14', null] AS JSON)", "[3.14,null]"),
        ("CAST(MAP(ARRAY[DECIMAL '0.0000000000000000'], ARRAY[1]) "
         "AS JSON)", '{"0.0000000000000000":1}'),
        # array || element through the cast
        ("CAST(ARRAY[DATE '2001-08-22'] || DATE '2001-08-23' AS JSON)",
         '["2001-08-22","2001-08-23"]'),
    ],
)
def test_cast_to_json(spark, expr, expected):
    got = _one(spark, f"SELECT {expr}")
    assert got == expected


def test_cast_array_column_to_json(spark, sf_dir):
    # catalog container column: the annotation pass makes the shape
    # visible to the renderer
    register_views(spark, sf_dir)
    got = _one(
        spark,
        "SELECT CAST(embedding AS JSON) FROM "
        "(SELECT * FROM embeddings ORDER BY vec_id LIMIT 1)",
    )
    assert got.startswith("[") and got.endswith("]")
    assert '"' not in got  # floats render unquoted


# ---------------------------------------------------------------------------
# map equality / IS DISTINCT FROM
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "expr,expected",
    [
        ("MAP(ARRAY[1, 3], ARRAY[2, 4]) = MAP(ARRAY[3, 1], ARRAY[4, 2])",
         True),
        ("MAP(ARRAY[1, 3], ARRAY[2, 4]) = MAP(ARRAY[3, 1], ARRAY[2, 4])",
         False),
        ("MAP(ARRAY[1], ARRAY[NULL]) = MAP(ARRAY[1], ARRAY[2])", None),
        ("MAP(ARRAY[1], ARRAY[2]) != MAP(ARRAY[1], ARRAY[2])", False),
        ("MAP(ARRAY[1], ARRAY[NULL]) IS DISTINCT FROM "
         "MAP(ARRAY[1], ARRAY[NULL])", False),
        ("MAP(ARRAY[1], ARRAY[0]) IS DISTINCT FROM "
         "MAP(ARRAY[1], ARRAY[NULL])", True),
        ("MAP(ARRAY[1], ARRAY[2]) IS DISTINCT FROM NULL", True),
        ("NULL IS DISTINCT FROM MAP(ARRAY[1], ARRAY[2])", True),
        ("CAST(NULL AS MAP<INTEGER, VARCHAR>) IS DISTINCT FROM "
         "CAST(NULL AS MAP<INTEGER, VARCHAR>)", False),
        # nested map values recurse
        ("MAP(ARRAY[1], ARRAY[MAP(ARRAY['k'], ARRAY[1e0])]) "
         "IS DISTINCT FROM "
         "MAP(ARRAY[1], ARRAY[MAP(ARRAY['k'], ARRAY[2e0])])", True),
    ],
)
def test_map_comparisons(spark, expr, expected):
    assert _one(spark, f"SELECT {expr}") is expected


# ---------------------------------------------------------------------------
# IPADDRESS operators
# ---------------------------------------------------------------------------

def test_ipaddress_cast_and_order(spark):
    assert _one(spark, "SELECT CAST(CAST('::ffff:1.2.3.4' "
                       "AS IPADDRESS) AS VARCHAR)") == "1.2.3.4"
    assert _one(spark, "SELECT CAST('1.2.3.4' AS IPADDRESS) = "
                       "CAST('::ffff:1.2.3.4' AS IPADDRESS)") is True
    # BYTE ordering, not string ordering
    assert _one(spark, "SELECT IPADDRESS '::1' <= "
                       "CAST('1.2.3.5' AS IPADDRESS)") is True
    assert _one(spark, "SELECT CAST('1.2.3.5' AS IPADDRESS) < "
                       "CAST('1.2.3.4' AS IPADDRESS)") is False
    assert _one(spark, "SELECT TRY_CAST('not-an-ip' AS IPADDRESS)") \
        is None


# ---------------------------------------------------------------------------
# zoned timestamp literals
# ---------------------------------------------------------------------------

def test_zoned_timestamp_instant_equality(spark):
    assert _one(spark, "SELECT ARRAY[timestamp '2012-10-31 08:00 UTC']"
                       " = ARRAY[timestamp "
                       "'2012-10-31 01:00 America/Los_Angeles']") is True
    assert _one(spark, "SELECT ARRAY[TIME '01:02:03.456 "
                       "America/Los_Angeles'] < ARRAY[TIME "
                       "'04:05:06.456 America/Los_Angeles']") is True


# ---------------------------------------------------------------------------
# misc array semantics
# ---------------------------------------------------------------------------

def test_array_position_decimal_coercion(spark):
    assert _one(spark, "SELECT array_position("
                       "ARRAY[1.0, 2.0, 3.000, 4.0], 3.0)") == 3
    assert _one(spark, "SELECT array_position("
                       "ARRAY[1.0, 2.0, 3.0, 4.0], 3)") == 3


def test_contains_null_needle(spark):
    assert _one(spark, "SELECT contains(ARRAY[1, 2], NULL)") is None
    assert _one(spark, "SELECT array_position(ARRAY[], NULL)") is None


def test_json_to_container_cast(spark):
    assert _one(spark, "SELECT array_position("
                       "CAST(JSON '[]' AS array(bigint)), 30)") == 0
    assert _one(spark, "SELECT CAST(JSON '[1, 2]' AS array(bigint))") \
        == [1, 2]


def test_unknown_array_distinct(spark):
    assert _one(spark, "SELECT CAST(NULL AS ARRAY(UNKNOWN)) "
                       "IS DISTINCT FROM CAST(NULL AS ARRAY(UNKNOWN))"
                ) is False


# SqlBase.g4 binds a unary sign tighter than CONCAT, so a signed or
# parenthesized element is one operand of `||` (ArrayConcatFunction's
# element append / prepend)
@pytest.mark.parametrize("expr,expected", [
    ("-1 || ARRAY[2]", [-1, 2]),
    ("ARRAY[1] || -2", [1, -2]),
    ("ARRAY[1] || (-2)", [1, -2]),
    ("(-1) || ARRAY[2]", [-1, 2]),
])
def test_signed_element_concat(spark, expr, expected):
    assert _one(spark, f"SELECT {expr}") == expected
