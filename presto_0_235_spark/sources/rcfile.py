"""Hive RCFILE storage format — pure-Python codec, worker-side.

RCFILE is the columnar row-group container behind the reference's
RCTEXT and RCBINARY Hive formats (HiveStorageFormat.java:42-91). The
reference ships its own from-scratch implementation of the public
layout in `presto-rcfile/` (RcFileWriter.java / RcFileReader.java)
interoperable with Hive's `org.apache.hadoop.hive.ql.io.RCFile`; this
module re-expresses the same public layout in Python so the Spark
engine reads and writes it DISTRIBUTED (mapInArrow sink / task-per-file
source) instead of driver-side py4j row loops:

  - header = "RCF" + version byte 1, then a codec flag byte
    (0 = uncompressed; this codec does not write compressed files),
    then metadata: int32 BE entry count, each entry two
    Hadoop-Text strings (vint length + utf8) — always including
    "hive.io.rcfile.column.number"; then 16 random sync bytes
    (RcFileWriter.java:147-169, Hive RCFile.Writer#initializeFileHeader);
  - row group = [int32 BE -1 + 16 sync bytes, for every group after
    the first] + int32 BE recordLen (= keyLen + valueLen, unused by
    readers) + int32 BE keyLen + int32 BE compressedKeyLen + key
    section + per-column value bytes (RcFileWriter.java:266-328);
  - key section = vlong rowCount, then per column: vlong
    valueBytesOnDisk, vlong uncompressedValueBytes, vlong
    lengthDataLen, lengthData — the cell lengths, run-length
    packed: a run of equal lengths writes the length once then
    ~runLength for the repeats (ColumnEncodeOutput.closeEntry,
    RcFileWriter.java:437-467);
  - vints/vlongs are Hadoop WritableUtils format: one byte for
    -112..127, else a marker byte encoding sign+size then big-endian
    magnitude (RcFileDecoderUtils.java:45-113);
  - RCBINARY cells (LazyBinaryColumnarSerDe): null = zero-length
    cell for EVERY type; bigint/int = vlong, smallint = int16 BE,
    tinyint = 1 byte, boolean = 1 byte 0/1, double = float64 bits BE,
    real = float32 bits BE, date = vint epoch days, string = raw
    utf8 where the empty string is the single marker byte 0xBF
    (binary/StringEncoding.java HIVE_EMPTY_STRING_BYTE);
  - RCTEXT cells (ColumnarSerDe): text rendering with null = "\\N"
    (text/TextRcFileEncoding.java DEFAULT_NULL_SEQUENCE); booleans
    render true/false, dates ISO yyyy-MM-dd.

Scope: the flat relational fixture shape (bigint, int, smallint,
tinyint, boolean, double, real, varchar, date), matching
sources/pagefile.py. Timestamps/decimals/nested stay on the other
formats. Compressed files are rejected loudly on read.

Scale: the sink is one file per task behind ``mapInArrow`` (Arrow
batches feed the codec directly — nullable bigints never pass through
lossy pandas float64); the source schedules one task per FILE (files
are written per-task, so read parallelism tracks write parallelism;
sync-seek sub-file splitting is the Hadoop split contract this layout
supports but this engine does not need at one-file-per-task layouts).
"""

from __future__ import annotations

import datetime
import struct

MAGIC = b"RCF"
VERSION = 1
COLUMN_COUNT_KEY = "hive.io.rcfile.column.number"
HIVE_EMPTY_STRING_BYTE = b"\xbf"  # binary/StringEncoding.java
NULL_TEXT = b"\\N"  # text/TextRcFileEncoding.java DEFAULT_NULL_SEQUENCE
DEFAULT_ROW_GROUP_ROWS = 4096

_EPOCH_DATE = datetime.date(1970, 1, 1)

LONG = "long"
INT = "int"
SHORT = "short"
BYTE = "byte"
BOOLEAN = "boolean"
DOUBLE = "double"
REAL = "real"
STRING = "string"
DATE = "date"


def spark_kinds(spark_schema) -> list[str]:
    """Spark StructType -> codec kind per field."""
    mapping = {
        "bigint": LONG,
        "long": LONG,
        "int": INT,
        "smallint": SHORT,
        "tinyint": BYTE,
        "boolean": BOOLEAN,
        "double": DOUBLE,
        "float": REAL,
        "string": STRING,
        "date": DATE,
    }
    kinds = []
    for f in spark_schema.fields:
        t = f.dataType.simpleString()
        if t not in mapping:
            raise ValueError(f"no RCFILE mapping for spark type {t}")
        kinds.append(mapping[t])
    return kinds


# ---- Hadoop WritableUtils vlong (RcFileDecoderUtils.java:45-113) -----------


def write_vlong(out: bytearray, value: int) -> None:
    if -112 <= value <= 127:
        out.append(value & 0xFF)
        return
    base = -112
    if value < 0:
        value = ~value
        base = -120
    size = (value.bit_length() + 7) // 8
    out.append((base - size) & 0xFF)
    out.extend(value.to_bytes(size, "big"))


def _vlong_size(first: int) -> int:
    """Encoded size from the (signed) first byte."""
    if first >= -112:
        return 1
    if first < -120:
        return -119 - first
    return -111 - first


def read_vlong(buf, pos: int) -> tuple[int, int]:
    first = buf[pos] - 256 if buf[pos] > 127 else buf[pos]
    size = _vlong_size(first)
    if size == 1:
        return first, pos + 1
    value = int.from_bytes(bytes(buf[pos + 1 : pos + size]), "big")
    negative = first < -120 or (-112 <= first < 0)
    return (~value if negative else value), pos + size


# ---- cell codecs -----------------------------------------------------------


def _encode_cell_binary(v, kind: str) -> bytes:
    """RCBINARY cell bytes (LazyBinaryColumnarSerDe /
    binary/*Encoding.java). None handled by the caller (empty cell)."""
    if kind in (LONG, INT):
        out = bytearray()
        write_vlong(out, int(v))
        return bytes(out)
    if kind == SHORT:
        return struct.pack(">h", int(v))
    if kind == BYTE:
        return struct.pack(">b", int(v))
    if kind == BOOLEAN:
        return b"\x01" if v else b"\x00"
    if kind == DOUBLE:
        return struct.pack(">d", float(v))
    if kind == REAL:
        return struct.pack(">f", float(v))
    if kind == DATE:
        days = (v - _EPOCH_DATE).days if isinstance(v, datetime.date) else int(v)
        out = bytearray()
        write_vlong(out, days)
        return bytes(out)
    if kind == STRING:
        raw = str(v).encode("utf-8")
        return raw if raw else HIVE_EMPTY_STRING_BYTE
    raise ValueError(f"unsupported RCBINARY kind {kind}")


def _decode_cell_binary(raw: bytes, kind: str):
    if len(raw) == 0:
        return None
    if kind in (LONG, INT):
        v, _ = read_vlong(raw, 0)
        return int(v)
    if kind == SHORT:
        return struct.unpack(">h", raw)[0]
    if kind == BYTE:
        return struct.unpack(">b", raw)[0]
    if kind == BOOLEAN:
        return raw[0] != 0
    if kind == DOUBLE:
        return struct.unpack(">d", raw)[0]
    if kind == REAL:
        return struct.unpack(">f", raw)[0]
    if kind == DATE:
        days, _ = read_vlong(raw, 0)
        return _EPOCH_DATE + datetime.timedelta(days=int(days))
    if kind == STRING:
        if raw == HIVE_EMPTY_STRING_BYTE:
            return ""
        return raw.decode("utf-8")
    raise ValueError(f"unsupported RCBINARY kind {kind}")


def _encode_cell_text(v, kind: str) -> bytes:
    """RCTEXT cell bytes (ColumnarSerDe text rendering,
    text/*Encoding.java). None handled by the caller ("\\N" cell)."""
    if kind == BOOLEAN:
        return b"true" if v else b"false"
    if kind == DATE:
        d = v if isinstance(v, datetime.date) else (
            _EPOCH_DATE + datetime.timedelta(days=int(v))
        )
        return d.isoformat().encode()
    if kind in (DOUBLE, REAL):
        f = float(v)
        # integral doubles render with a trailing .0 in both Java and
        # Python; other values use repr (shortest roundtrip — Java
        # Double.toString differs on exponent formatting for extreme
        # magnitudes, documented scope bound for text interop)
        return repr(f).encode()
    return str(v).encode("utf-8")


def _decode_cell_text(raw: bytes, kind: str):
    if raw == NULL_TEXT:
        return None
    if kind in (LONG, INT, SHORT, BYTE):
        return int(raw)
    if kind == BOOLEAN:
        return raw.lower() == b"true"
    if kind in (DOUBLE, REAL):
        return float(raw)
    if kind == DATE:
        return datetime.date.fromisoformat(raw.decode())
    return raw.decode("utf-8")


# ---- row-group key section -------------------------------------------------


def _pack_lengths(lengths: list[int]) -> bytes:
    """Run-length packing of cell lengths (ColumnEncodeOutput:
    a run of equal lengths writes the length once, then ~runLength)."""
    out = bytearray()
    prev = None
    run = 0
    for n in lengths:
        if n == prev:
            run += 1
            continue
        if run > 0:
            write_vlong(out, ~run)
        write_vlong(out, n)
        prev = n
        run = 0
    if run > 0:
        write_vlong(out, ~run)
    return bytes(out)


def _unpack_lengths(data, n_cells: int) -> list[int]:
    out: list[int] = []
    pos = 0
    while len(out) < n_cells:
        v, pos = read_vlong(data, pos)
        if v < 0:
            out.extend([out[-1]] * (~v))
        else:
            out.append(v)
    if len(out) != n_cells:
        raise ValueError("RCFILE length data does not match row count")
    return out


# ---- whole file ------------------------------------------------------------


def _encode_text_string(out: bytearray, s: str) -> None:
    raw = s.encode("utf-8")
    write_vlong(out, len(raw))
    out.extend(raw)


def write_file(path: str, pdf, kinds: list[str], serde: str = "binary",
               row_group_rows: int = DEFAULT_ROW_GROUP_ROWS) -> int:
    """Encode one pandas DataFrame into one RCFILE; returns the
    number of row groups written. ``serde`` is "binary" (RCBINARY)
    or "text" (RCTEXT)."""
    import hashlib

    encode = _encode_cell_binary if serde == "binary" else _encode_cell_text
    null_cell = b"" if serde == "binary" else NULL_TEXT
    n = len(pdf)
    columns = [list(pdf[c]) for c in pdf.columns]

    header = bytearray()
    header.extend(MAGIC)
    header.append(VERSION)
    header.append(0)  # codec flag: uncompressed
    header.extend(struct.pack(">i", 1))  # metadata entry count
    _encode_text_string(header, COLUMN_COUNT_KEY)
    _encode_text_string(header, str(len(kinds)))
    # sync: 16 opaque bytes; deterministic per file (Hive uses an
    # MD5 of uid+time — any 16 bytes work, they are only compared)
    sync = hashlib.md5(f"rcfile|{path}|{len(kinds)}".encode()).digest()
    header.extend(sync)

    import pandas as pd

    def dead(v):
        if v is None or v is pd.NaT:
            return True
        if isinstance(v, float) and v != v:
            return False  # NaN is a double value
        try:
            return bool(pd.isna(v))
        except (TypeError, ValueError):
            return False

    groups = 0
    with open(path, "wb") as fh:
        fh.write(bytes(header))
        for lo in range(0, n, row_group_rows):
            hi = min(lo + row_group_rows, n)
            rows = hi - lo
            col_bytes: list[bytes] = []
            key = bytearray()
            write_vlong(key, rows)
            for col, kind in zip(columns, kinds):
                cells = [
                    null_cell if dead(v) else encode(v, kind)
                    for v in col[lo:hi]
                ]
                data = b"".join(cells)
                length_data = _pack_lengths([len(c) for c in cells])
                write_vlong(key, len(data))
                write_vlong(key, len(data))  # uncompressed == on-disk
                write_vlong(key, len(length_data))
                key.extend(length_data)
                col_bytes.append(data)
            if groups > 0:
                fh.write(struct.pack(">i", -1))
                fh.write(sync)
            value_len = sum(len(b) for b in col_bytes)
            fh.write(struct.pack(">i", len(key) + value_len))
            fh.write(struct.pack(">i", len(key)))
            fh.write(struct.pack(">i", len(key)))  # compressed == plain
            fh.write(bytes(key))
            for b in col_bytes:
                fh.write(b)
            groups += 1
    return groups


def _read_header(buf) -> tuple[bytes, int, int]:
    """-> (sync bytes, column count, position after header)."""
    if bytes(buf[:3]) != MAGIC or buf[3] != VERSION:
        raise ValueError("not an RCF version-1 file")
    if buf[4] != 0:
        raise ValueError("compressed RCFILE not supported by this codec")
    pos = 5
    (n_meta,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    n_cols = None
    for _ in range(n_meta):
        klen, pos = read_vlong(buf, pos)
        k = bytes(buf[pos : pos + klen]).decode()
        pos += klen
        vlen, pos = read_vlong(buf, pos)
        v = bytes(buf[pos : pos + vlen]).decode()
        pos += vlen
        if k == COLUMN_COUNT_KEY:
            n_cols = int(v)
    if n_cols is None:
        raise ValueError(f"RCFILE metadata lacks {COLUMN_COUNT_KEY}")
    sync = bytes(buf[pos : pos + 16])
    return sync, n_cols, pos + 16


def read_file(path: str, kinds: list[str], serde: str = "binary"):
    """Decode a whole RCFILE -> list of column lists (None = null)."""
    decode = _decode_cell_binary if serde == "binary" else _decode_cell_text
    with open(path, "rb") as fh:
        buf = memoryview(fh.read())
    sync, n_cols, pos = _read_header(buf)
    if n_cols != len(kinds):
        raise ValueError(
            f"RCFILE has {n_cols} columns, schema expects {len(kinds)}"
        )
    cols: list[list] = [[] for _ in kinds]
    size = len(buf)
    while pos < size:
        (marker,) = struct.unpack_from(">i", buf, pos)
        pos += 4
        if marker == -1:
            if bytes(buf[pos : pos + 16]) != sync:
                raise ValueError("RCFILE sync mismatch")
            pos += 16
            (marker,) = struct.unpack_from(">i", buf, pos)
            pos += 4
        key_len, comp_key_len = struct.unpack_from(">ii", buf, pos)
        pos += 8
        if comp_key_len != key_len:
            raise ValueError("compressed key section not supported")
        key = buf[pos : pos + key_len]
        pos += key_len
        kpos = 0
        rows, kpos = read_vlong(key, kpos)
        col_meta = []
        for _ in kinds:
            vlen, kpos = read_vlong(key, kpos)
            _unc, kpos = read_vlong(key, kpos)
            ldl, kpos = read_vlong(key, kpos)
            lengths = _unpack_lengths(key[kpos : kpos + ldl], rows)
            kpos += ldl
            col_meta.append((vlen, lengths))
        for i, (kind, (vlen, lengths)) in enumerate(zip(kinds, col_meta)):
            data = bytes(buf[pos : pos + vlen])
            pos += vlen
            start = 0
            out = cols[i]
            for ln in lengths:
                out.append(decode(data[start : start + ln], kind))
                start += ln
    return cols


# ---- Spark sink/source -----------------------------------------------------


def write_rcfile_dataframe(df, path: str, serde: str = "binary") -> int:
    """Distributed RCFILE sink: one file per task, through
    sources/sink.write_per_task, which keeps nullable longs exact.
    Returns the number of files written."""
    from presto_0_235_spark.sources.sink import write_per_task

    kinds = spark_kinds(df.schema)
    return write_per_task(
        df, path, ".rc",
        lambda fname, pdf: write_file(fname, pdf, kinds, serde))


def read_rcfile_dataframe(spark, path: str, spark_schema,
                          serde: str = "binary"):
    """Distributed RCFILE source: one task per file
    (sources/sink.read_splits; files are written one per task, so read
    parallelism tracks the layout)."""
    import glob
    import os

    import pandas as pd

    from presto_0_235_spark.sources.sink import read_splits

    kinds = spark_kinds(spark_schema)
    col_names = [f.name for f in spark_schema.fields]

    def decode(fname):
        cols = read_file(fname, kinds, serde)
        yield pd.DataFrame(dict(zip(col_names, cols)), dtype=object)

    files = sorted(glob.glob(os.path.join(path, "*.rc")))
    return read_splits(spark, files, spark_schema, decode)
