"""Fixture-schema canary: fail ONE named test (not 50+ queries) when
the driver regenerates /root/testdata with a different physical layout.

Round-5 incident: events.ts changed from parquet timestamp[ns] to
timestamp[us] and every events consumer broke at analysis time. The
catalog normalizes ts behind normalize_events_ts; this test pins both
the normalized logical schema and the set of physical layouts that
normalization is known to handle.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from presto_0_235_spark.catalog import TABLES, load_table
from tests.conftest import SF_DIR, jobs_submitted

# Physical ts encodings normalize_events_ts knows how to restore.
KNOWN_TS_LAYOUTS = {"timestamp[ns]", "timestamp[us]", "int64"}


def test_events_physical_ts_layout_is_known():
    footer = pq.read_schema(f"{SF_DIR}/events.parquet")
    ts_type = str(footer.field("ts").type)
    assert ts_type in KNOWN_TS_LAYOUTS, (
        f"events.ts fixture layout changed to {ts_type!r}; teach "
        "catalog.normalize_events_ts (and this test) the new layout"
    )


def test_events_normalized_schema(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    fields = {f.name: f.dataType for f in df.schema.fields}
    # LTZ TimestampType required: event-time ops + withWatermark
    # reject TIMESTAMP_NTZ.
    assert isinstance(fields["ts"], T.TimestampType), fields["ts"]
    assert isinstance(fields["event_id"], T.LongType)
    assert isinstance(fields["user_id"], T.LongType)
    assert isinstance(fields["event_type"], T.StringType)
    assert isinstance(fields["value"], T.DoubleType)


@pytest.mark.parametrize("name", TABLES)
def test_all_fixture_tables_load(spark, sf_dir, name):
    df = load_table(spark, sf_dir, name)
    assert len(df.schema.fields) > 0


# Column name -> physical type per table, as of the round-6 fixture
# generation. Temporal columns accept the layouts the engine is known
# to handle (see KNOWN_TS_LAYOUTS); everything else is pinned exactly.
_TEMPORAL = KNOWN_TS_LAYOUTS
EXPECTED_PHYSICAL = {
    "region": {"r_regionkey": "int32", "r_name": "string"},
    "nation": {
        "n_nationkey": "int32", "n_name": "string", "n_regionkey": "int32",
    },
    "customer": {
        "c_custkey": "int64", "c_name": "string", "c_nationkey": "int32",
        "c_acctbal": "double", "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "int64", "s_name": "string", "s_nationkey": "int32",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "int64", "p_name": "string", "p_brand": "string",
        "p_type": "string", "p_size": "int32", "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "int64", "o_custkey": "int64",
        "o_orderstatus": "string", "o_totalprice": "double",
        "o_orderdate": _TEMPORAL, "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "int64", "l_partkey": "int64", "l_suppkey": "int64",
        "l_linenumber": "int32", "l_quantity": "double",
        "l_extendedprice": "double", "l_discount": "double",
        "l_tax": "double", "l_returnflag": "string",
        "l_linestatus": "string", "l_shipdate": _TEMPORAL,
    },
    "events": {
        "event_id": "int64", "ts": _TEMPORAL, "user_id": "int64",
        "event_type": "string", "value": "double", "props": "string",
    },
    "documents": {
        "doc_id": "int64", "text": "string", "lang": "string",
        "source": "string", "n_chars": "int64",
    },
    "embeddings": {
        "vec_id": "int64", "embedding": "list<element: float>",
        "label": "int32",
    },
}


@pytest.mark.parametrize("name", TABLES)
def test_fixture_physical_schema_pinned(name):
    """Pin every fixture's physical parquet schema so the next driver
    regeneration that changes a layout fails HERE, by table name,
    instead of surfacing as dozens of downstream query failures."""
    footer = pq.read_schema(f"{SF_DIR}/{name}.parquet")
    actual = {f.name: str(f.type) for f in footer}
    expected = EXPECTED_PHYSICAL[name]
    assert set(actual) == set(expected), (
        f"{name}: columns changed: {sorted(actual)} vs {sorted(expected)}"
    )
    for col, want in expected.items():
        if isinstance(want, (set, frozenset)):
            assert actual[col] in want, (
                f"{name}.{col}: layout {actual[col]!r} not in known set "
                f"{sorted(want)}; teach the loader (and this pin)"
            )
        else:
            assert actual[col] == want, (
                f"{name}.{col}: layout changed {want!r} -> {actual[col]!r}"
            )


def test_byte_string_parsing():
    """Conf byte-size strings parse with JavaUtils semantics (the
    r17 string-replace shortcut read "128m" as 128e6, ~4.6% under
    the real 134217728, and raised on "1g")."""
    from presto_0_235_spark.catalog import _byte_string_as_bytes

    assert _byte_string_as_bytes("134217728") == 134217728
    assert _byte_string_as_bytes("128m") == 128 * 1024**2
    assert _byte_string_as_bytes("128mb") == 128 * 1024**2
    assert _byte_string_as_bytes("1g") == 1024**3
    assert _byte_string_as_bytes("1gb") == 1024**3
    assert _byte_string_as_bytes("512k") == 512 * 1024
    assert _byte_string_as_bytes("2b") == 2


@pytest.mark.parametrize("bad", ["128x", "-1g", "1.5g", "", "g"])
def test_byte_string_rejects_malformed(bad):
    """A misconfigured size fails loudly, as JavaUtils.byteStringAsBytes
    does, instead of being read as another size ("128x" as 128)."""
    from presto_0_235_spark.catalog import _byte_string_as_bytes

    with pytest.raises(ValueError):
        _byte_string_as_bytes(bad)


def test_table_memo_per_session_and_invalidation(spark):
    """The load_table memo freezes a table's plan per (session,
    sf_dir, name) and its footer schema per process;
    invalidate_table_memo must drop both (the contract for mutable
    tables), and a session absent from the memo re-lists on next
    load."""
    from presto_0_235_spark import catalog as cat

    path = f"{SF_DIR}/nation.parquet"

    def schema_memoized() -> bool:
        return any(key[0] == path for key in cat._SCHEMA_MEMO)

    cat.invalidate_table_memo(spark)
    df1 = cat.load_table(spark, SF_DIR, "nation")
    assert schema_memoized()
    assert cat.load_table(spark, SF_DIR, "nation") is df1
    cat.invalidate_table_memo(spark)
    assert not schema_memoized()
    with jobs_submitted(spark) as jobs:
        df2 = cat.load_table(spark, SF_DIR, "nation")
    assert df2 is not df1  # fresh plan => fresh footer read + listing
    assert jobs  # the schema was inferred again
    assert df2.schema == df1.schema
    cat.invalidate_table_memo()  # global form clears every session
    assert not schema_memoized()
    with jobs_submitted(spark) as jobs:
        assert cat.load_table(spark, SF_DIR, "nation") is not df2
    assert jobs


def test_later_session_loads_fixtures_without_jobs(spark):
    """Only a process's first session infers the fixtures' footer
    schemas; a later session (one per client) loads all ten tables
    without a Spark job and sees the same schemas."""
    from presto_0_235_spark import catalog as cat

    cat.invalidate_table_memo(spark)
    first = {n: cat.load_table(spark, SF_DIR, n).schema for n in TABLES}
    later = spark.newSession()
    with jobs_submitted(spark) as jobs:
        second = {n: cat.load_table(later, SF_DIR, n).schema
                  for n in TABLES}
    assert jobs == []
    assert second == first


def test_stream_schema_keyed_on_inference_confs(spark, tmp_path):
    """The events stream takes its schema from the catalog's memo, whose
    key holds the inference confs: a session that reads binary as
    string streams a string column, not the schema a plain session
    inferred first."""
    import pyarrow as pa

    from presto_0_235_spark.streaming.engine import read_events_stream

    pq.write_table(pa.table({
        "user_id": pa.array([1], pa.int64()),
        "ts": pa.array([0], pa.timestamp("us")),
        "payload": pa.array([b"x"], pa.binary()),
    }), tmp_path / "events.parquet")
    sf_dir = str(tmp_path)

    plain = read_events_stream(spark.newSession(), sf_dir)
    assert dict(plain.dtypes)["payload"] == "binary"
    as_string_session = spark.newSession()
    as_string_session.conf.set("spark.sql.parquet.binaryAsString", "true")
    as_string = read_events_stream(as_string_session, sf_dir)
    assert dict(as_string.dtypes) == {
        "user_id": "bigint", "ts": "timestamp", "payload": "string"}


def test_schema_memo_keyed_on_inference_confs(spark, tmp_path):
    """A session whose confs change what parquet inference returns
    infers its own schema; a later session with the same confs reuses
    it without a job."""
    import pyarrow as pa

    from presto_0_235_spark import catalog as cat

    pq.write_table(pa.table({
        "r_regionkey": pa.array([1], pa.int64()),
        "r_name": pa.array([b"AFRICA"], pa.binary()),
    }), tmp_path / "region.parquet")
    sf_dir = str(tmp_path)

    def binary_as_string_session():
        s = spark.newSession()
        s.conf.set("spark.sql.parquet.binaryAsString", "true")
        return s

    plain = cat.load_table(spark.newSession(), sf_dir, "region")
    assert dict(plain.dtypes)["r_name"] == "binary"
    with jobs_submitted(spark) as jobs:
        as_string = cat.load_table(binary_as_string_session(), sf_dir,
                                   "region")
    assert jobs  # inferred, not served from the plain session's entry
    assert dict(as_string.dtypes)["r_name"] == "string"
    assert as_string.collect()[0].r_name == "AFRICA"
    with jobs_submitted(spark) as jobs:
        again = cat.load_table(binary_as_string_session(), sf_dir, "region")
    assert jobs == []
    assert again.schema == as_string.schema
