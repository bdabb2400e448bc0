"""Fixture-schema canary: fail ONE named test (not 50+ queries) when
the driver regenerates /root/testdata with a different physical layout.

Round-5 incident: events.ts changed from parquet timestamp[ns] to
timestamp[us] and every events consumer broke at analysis time. The
catalog normalizes ts behind normalize_events_ts; this test pins both
the normalized logical schema and the set of physical layouts that
normalization is known to handle.
"""

from __future__ import annotations

import os

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


@pytest.fixture
def footer_reads(monkeypatch):
    """The paths whose footer schema the catalog reads, in order."""
    from presto_0_235_spark import catalog as cat

    paths: list[str] = []
    read = cat._footer_schema

    def counting(spark, path):
        paths.append(path)
        return read(spark, path)

    monkeypatch.setattr(cat, "_footer_schema", counting)
    return paths


def test_table_memo_per_session_and_invalidation(spark, footer_reads):
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
    assert footer_reads == [path]
    cat.invalidate_table_memo(spark)
    assert not schema_memoized()
    df2 = cat.load_table(spark, SF_DIR, "nation")
    assert df2 is not df1  # fresh plan => fresh footer read + listing
    assert footer_reads == [path] * 2  # the schema was read again
    assert df2.schema == df1.schema
    cat.invalidate_table_memo()  # global form clears every session
    assert not schema_memoized()
    assert cat.load_table(spark, SF_DIR, "nation") is not df2
    assert footer_reads == [path] * 3


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


def test_schema_memo_keyed_on_inference_confs(spark, tmp_path, footer_reads):
    """A session whose confs change what parquet inference returns
    reads its own schema; a later session with the same confs reuses
    it without reading the footer again."""
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
    assert len(footer_reads) == 1
    as_string = cat.load_table(binary_as_string_session(), sf_dir, "region")
    # read again, not served from the plain session's entry
    assert len(footer_reads) == 2
    assert dict(as_string.dtypes)["r_name"] == "string"
    assert as_string.collect()[0].r_name == "AFRICA"
    again = cat.load_table(binary_as_string_session(), sf_dir, "region")
    assert len(footer_reads) == 2
    assert again.schema == as_string.schema


def _toggled_sessions(spark):
    """A plain session, then one per schema conf with that conf flipped."""
    from presto_0_235_spark.catalog import _SCHEMA_CONFS

    yield "default", spark.newSession()
    for conf in _SCHEMA_CONFS:
        session = spark.newSession()
        flipped = "false" if session.conf.get(conf) == "true" else "true"
        session.conf.set(conf, flipped)
        yield f"{conf}={flipped}", session


@pytest.fixture(scope="module")
def seed42_dir(tmp_path_factory):
    """perfbench's generated sf0.01 dataset (seed 42), the second
    fixture family the benchmark reads."""
    from perfbench.datagen import ensure_dataset

    return ensure_dataset(str(tmp_path_factory.mktemp("datagen")), 0.01, 42)


@pytest.mark.parametrize("family", ["sf0.01", "sf0.01-seed42"])
def test_footer_schema_matches_inference(spark, family, seed42_dir):
    """The schema read from each table's footer is the one Spark's own
    inference gives the same path, under each schema conf toggled."""
    from presto_0_235_spark.catalog import _footer_schema

    sf_dir = {"sf0.01": "/root/testdata/sf0.01",
              "sf0.01-seed42": seed42_dir}[family]
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} is absent")
    for label, session in _toggled_sessions(spark):
        for name in TABLES:
            path = f"{sf_dir}/{name}.parquet"
            given = session.read.schema(_footer_schema(session, path))
            assert given.parquet(path).schema == \
                session.read.parquet(path).schema, (label, name)


def test_footer_schema_of_a_spark_written_directory(spark, tmp_path):
    """A directory table with several part files, partition
    directories, a _SUCCESS marker and the Spark schema in its footers
    gets the schema inference gives it, partition column included."""
    from presto_0_235_spark.catalog import _footer_schema

    path = str(tmp_path / "t")
    spark.range(40, numPartitions=4).selectExpr(
        "id", "CAST(id AS DECIMAL(10, 2)) AS d", "CAST(id AS STRING) AS s",
        "array(id) AS a", "CAST(CAST(id AS STRING) AS BINARY) AS b",
        "timestamp_seconds(id) AS ts", "id % 3 AS k",
    ).write.partitionBy("k").parquet(path)
    for label, session in _toggled_sessions(spark):
        given = session.read.schema(_footer_schema(session, path))
        inferred = session.read.parquet(path).schema
        assert given.parquet(path).schema == inferred, label
        assert "k" in inferred.fieldNames()


def test_footer_schema_follows_each_inference_conf(spark, tmp_path):
    """On a file whose columns each conf changes (nanosecond, INT96,
    UTC-less and UTC timestamps, binary), every toggle gives another
    inferred schema, and the footer schema follows it each time."""
    import datetime

    import pyarrow as pa

    from presto_0_235_spark.catalog import _footer_schema

    ts = datetime.datetime(2024, 1, 1, 12)
    path = str(tmp_path / "typed.parquet")
    pq.write_table(pa.table({
        "ns": pa.array([ts], pa.timestamp("ns")),
        "naive": pa.array([ts], pa.timestamp("us")),
        "utc": pa.array([ts], pa.timestamp("us", tz="UTC")),
        "raw": pa.array([b"x"], pa.binary()),
    }), path)
    pq.write_table(pa.table({"int96": pa.array([ts], pa.timestamp("ns"))}),
                   str(tmp_path / "int96.parquet"),
                   use_deprecated_int96_timestamps=True)
    outcomes = {}
    for label, session in _toggled_sessions(spark):
        outcome = []
        for p in (path, str(tmp_path / "int96.parquet")):
            try:
                inferred = session.read.parquet(p).schema
            except Exception:  # a type the conf leaves unreadable
                with pytest.raises(Exception):
                    _footer_schema(session, p)
                outcome.append("unreadable")
                continue
            given = session.read.schema(_footer_schema(session, p))
            assert given.parquet(p).schema == inferred, (label, p)
            outcome.append(inferred.simpleString())
        outcomes[label] = tuple(outcome)
    # each toggle changes what inference returns
    assert len(set(outcomes.values())) == len(outcomes), outcomes


def test_register_views_submits_no_job(spark, sf_dir):
    """With an empty schema memo, registering the fixture views runs no
    Spark job: the schemas come from the footers, on the driver."""
    from presto_0_235_spark import catalog as cat

    cat.invalidate_table_memo()
    session = spark.newSession()
    with jobs_submitted(spark) as jobs:
        cat.register_views(session, sf_dir)
    assert jobs == []
    assert {t.name for t in session.catalog.listTables()} >= set(TABLES)
