"""Pure-Python Apache Avro object-container codec.

The reference treats AVRO as a first-class Hive storage format
(presto-hive-metastore/.../HiveStorageFormat.java:42-91 AVRO, Hive
AvroContainerInput/OutputFormat). Vanilla PySpark has no Avro
DataFrame source — the spark-avro connector is a separate jar that is
not deployable in this offline container, and neither ``fastavro``
nor ``avro`` is installed — so this module implements the object
container file format directly from the PUBLIC Apache Avro 1.11
specification (Object Container Files + binary encoding sections):

  - file header: 4-byte magic ``Obj\\x01``, metadata map
    (``avro.schema`` JSON + ``avro.codec``), 16-byte sync marker;
  - data blocks: record count (varint) + byte size (varint) +
    serialized records + sync marker;
  - binary encoding: int/long = zigzag varint; float/double =
    little-endian IEEE; string/bytes = length-prefixed; boolean =
    one byte; null = zero bytes; unions = zigzag branch index then
    the branch's encoding; logical types date (int days) and
    timestamp-micros (long) ride their base types.

Scope: flat records of nullable primitives — the relational row
shape every fixture table has. The codec is deliberately the NULL
(uncompressed) avro.codec; files it writes are readable by any Avro
implementation and vice versa.

Scale note: the codec itself is per-partition worker code, driven via
``mapInArrow`` on write (sources/sink.py) and ``mapInPandas`` on read:
one container file per task on write, one task per file on read, the
same file-per-partition layout every Spark file source uses. Python-side
byte twiddling is the slow path vs a JVM connector; acceptable for a
FORMAT-COMPLETENESS path (deployments that can ship jars should use
spark-avro — the guarded probe in tests/test_scale_smoke.py covers
that path), and throughput scales linearly with executors since
every file encodes/decodes independently.
"""

from __future__ import annotations

import datetime
import io
import json
import struct

MAGIC = b"Obj\x01"
_EPOCH = datetime.date(1970, 1, 1)
_EPOCH_DT = datetime.datetime(1970, 1, 1)
_MICROSECOND = datetime.timedelta(microseconds=1)

# Supported field types: avro (base, logical) pairs.
LONG = ("long", None)
DOUBLE = ("double", None)
STRING = ("string", None)
BOOLEAN = ("boolean", None)
BYTES = ("bytes", None)
DATE = ("int", "date")
TIMESTAMP_MICROS = ("long", "timestamp-micros")


# ---- varint / zigzag (Avro spec: binary encoding, primitives) -------------


def _write_varint(out: io.BytesIO, n: int) -> None:
    """Unsigned LEB128 varint."""
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.write(bytes((b | 0x80,)))
        else:
            out.write(bytes((b,)))
            return


def _write_long(out: io.BytesIO, n: int) -> None:
    """Zigzag-encoded signed long."""
    _write_varint(out, (n << 1) ^ (n >> 63) if n < 0 else n << 1)


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


# ---- field encode/decode ---------------------------------------------------


def _encode_value(out: io.BytesIO, base: str, logical, v) -> None:
    if base == "long" or base == "int":
        if logical == "date":
            v = (v - _EPOCH).days
        elif logical == "timestamp-micros":
            if isinstance(v, datetime.datetime):
                # Arrow hands the sink zone-aware values in the session
                # zone; the wall clock is what the reader restores
                v = (v.replace(tzinfo=None) - _EPOCH_DT) // _MICROSECOND
        _write_long(out, int(v))
    elif base == "double":
        out.write(struct.pack("<d", float(v)))
    elif base == "string":
        raw = str(v).encode("utf-8")
        _write_long(out, len(raw))
        out.write(raw)
    elif base == "bytes":
        raw = bytes(v)
        _write_long(out, len(raw))
        out.write(raw)
    elif base == "boolean":
        out.write(b"\x01" if v else b"\x00")
    else:  # pragma: no cover - schema model guards this
        raise ValueError(f"unsupported avro type {base}")


def _decode_value(buf: bytes, pos: int, base: str, logical):
    if base in ("long", "int"):
        n, pos = _read_long(buf, pos)
        if logical == "date":
            return _EPOCH + datetime.timedelta(days=n), pos
        if logical == "timestamp-micros":
            return (
                _EPOCH_DT + datetime.timedelta(microseconds=n),
                pos,
            )
        return n, pos
    if base == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if base == "string":
        n, pos = _read_long(buf, pos)
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if base == "bytes":
        n, pos = _read_long(buf, pos)
        return bytes(buf[pos : pos + n]), pos + n
    if base == "boolean":
        return buf[pos] == 1, pos + 1
    raise ValueError(f"unsupported avro type {base}")


# ---- schema ----------------------------------------------------------------


def schema_json(fields: list[tuple[str, tuple[str, str | None]]]) -> str:
    """Record schema with every field a nullable union
    ``["null", T]`` (the Hive convention for Avro-backed tables)."""

    def one(base, logical):
        if logical is None:
            return base
        return {"type": base, "logicalType": logical}

    return json.dumps(
        {
            "type": "record",
            "name": "row",
            "fields": [
                {"name": name, "type": ["null", one(base, logical)]}
                for name, (base, logical) in fields
            ],
        }
    )


def _parse_schema(schema: dict) -> list[tuple[str, tuple[str, str | None]]]:
    fields = []
    for f in schema["fields"]:
        t = f["type"]
        if isinstance(t, list):  # ["null", T]
            t = next(x for x in t if x != "null")
        if isinstance(t, dict):
            fields.append((f["name"], (t["type"], t.get("logicalType"))))
        else:
            fields.append((f["name"], (t, None)))
    return fields


# ---- container file --------------------------------------------------------


def write_container(
    rows, fields: list[tuple[str, tuple[str, str | None]]], sync: bytes
) -> bytes:
    """Serialize ``rows`` (iterable of tuples, field order) into one
    single-block object container file (null codec)."""
    assert len(sync) == 16
    body = io.BytesIO()
    n_rows = 0
    for row in rows:
        n_rows += 1
        for (name, (base, logical)), v in zip(fields, row):
            is_null = v is None or (
                isinstance(v, float) and v != v and base != "double"
            )
            if is_null:
                _write_long(body, 0)  # union branch 0: null
            else:
                _write_long(body, 1)  # union branch 1: value
                _encode_value(body, base, logical, v)
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {
        "avro.schema": schema_json(fields).encode(),
        "avro.codec": b"null",
    }
    _write_long(out, len(meta))
    for k, v in meta.items():
        kb = k.encode()
        _write_long(out, len(kb))
        out.write(kb)
        _write_long(out, len(v))
        out.write(v)
    _write_long(out, 0)  # end of metadata map
    out.write(sync)
    payload = body.getvalue()
    if n_rows:
        _write_long(out, n_rows)
        _write_long(out, len(payload))
        out.write(payload)
        out.write(sync)
    return out.getvalue()


def read_container(data: bytes):
    """Decode an object container file -> (fields, list of row
    tuples in field order). Only the null codec is supported (the
    only codec this module writes)."""
    if data[:4] != MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = _read_long(data, pos)
        if n == 0:
            break
        if n < 0:  # block with explicit byte size (spec allows)
            n = -n
            _, pos = _read_long(data, pos)
        for _ in range(n):
            klen, pos = _read_long(data, pos)
            k = data[pos : pos + klen].decode()
            pos += klen
            vlen, pos = _read_long(data, pos)
            meta[k] = data[pos : pos + vlen]
            pos += vlen
    codec = meta.get("avro.codec", b"null")
    if codec != b"null":
        raise ValueError(f"unsupported avro.codec {codec!r}")
    fields = _parse_schema(json.loads(meta["avro.schema"]))
    sync = data[pos : pos + 16]
    pos += 16
    rows: list[tuple] = []
    while pos < len(data):
        n_rows, pos = _read_long(data, pos)
        _, pos = _read_long(data, pos)  # block byte size
        for _ in range(n_rows):
            row = []
            for _name, (base, logical) in fields:
                branch, pos = _read_long(data, pos)
                if branch == 0:
                    row.append(None)
                else:
                    v, pos = _decode_value(data, pos, base, logical)
                    row.append(v)
            rows.append(tuple(row))
        if data[pos : pos + 16] != sync:
            raise ValueError("sync marker mismatch")
        pos += 16
    return fields, rows


# ---- Spark sink/source ----------------------------------------------------


def _avro_fields(spark_schema):
    """Spark StructType -> codec field list."""
    mapping = {
        "bigint": LONG, "long": LONG, "int": LONG,
        "double": DOUBLE, "string": STRING, "boolean": BOOLEAN,
        "binary": BYTES, "date": DATE, "timestamp": TIMESTAMP_MICROS,
    }
    fields = []
    for f in spark_schema.fields:
        t = f.dataType.simpleString()
        if t not in mapping:
            raise ValueError(f"no avro mapping for spark type {t}")
        fields.append((f.name, mapping[t]))
    return fields


def write_avro_dataframe(df, path: str) -> int:
    """Distributed Avro sink: every task encodes its rows into ONE
    object container file under ``path``, through
    sources/sink.write_per_task, which keeps nullable longs exact.
    Returns the number of files written."""
    import hashlib

    from presto_0_235_spark.sources.sink import write_per_task

    fields = _avro_fields(df.schema)

    def write(fname, pdf):
        sync = hashlib.md5(fname.encode()).digest()
        rows = pdf.itertuples(index=False, name=None)
        with open(fname, "wb") as fh:
            fh.write(write_container(rows, fields, sync))

    return write_per_task(df, path, ".avro", write)


def read_avro_dataframe(spark, path: str, spark_schema):
    """Distributed Avro source: one decode task per container file
    (sources/sink.read_splits). The file listing is driver-side
    metadata, exactly like any file source's split planning; at 100 TB
    the listing is the cheap part and every file decodes independently.
    ``spark_schema`` is the declared read schema — no inference at
    query time, matching the engine's fixed-schema connector model."""
    import glob
    import os

    import pandas as pd

    from presto_0_235_spark.sources.sink import read_splits

    col_names = [f.name for f in spark_schema.fields]

    def decode(fname):
        with open(fname, "rb") as fh:
            fields, rows = read_container(fh.read())
        names = [n for n, _ in fields]
        if names != col_names:
            raise ValueError(f"avro schema {names} != declared {col_names}")
        yield pd.DataFrame(rows, columns=names, dtype=object)

    files = sorted(glob.glob(os.path.join(path, "*.avro")))
    return read_splits(spark, files, spark_schema, decode)
