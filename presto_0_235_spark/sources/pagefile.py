"""Presto PAGEFILE storage format — pure-Python codec.

PAGEFILE is the reference's own on-disk page container
(presto-hive/.../pagefile/: PageFileWriterFactory.java,
PageFilePageSource.java; HiveStorageFormat.java:42-91 lists it beside
ORC/PARQUET). It has no public Spark/Hive reader — the byte layout
lives in the reference's writer/reader pair — so this module
implements that layout directly:

  - file = stripes ++ footer; footer = one little-endian int64 per
    stripe offset followed by int32 footerSize = 8*n + 4
    (PageFileFooterOutput.java:44-52, PageFileFooterReader.java:55-75);
  - stripe = concatenated serialized pages, each framed as
    int32 positionCount, uint8 codec markers, int32 uncompressedSize,
    int32 sizeInBytes, then the page slice
    (spi/page/PagesSerdeUtil.java writeSerializedPage/readSerializedPage);
  - page slice = int32 blockCount then per-channel blocks, each an
    int32-length-prefixed encoding name + payload
    (BlockEncodingManager.java:107-147);
  - null streams = uint8 mayHaveNull + MSB-first bit-packed nulls
    (spi/block/EncoderUtil.java:31-63);
  - LONG_ARRAY / INT_ARRAY / SHORT_ARRAY / BYTE_ARRAY = int32
    positionCount, nulls, then the non-null fixed-width values
    (LongArrayBlockEncoding.java etc.); doubles ride LONG_ARRAY as
    IEEE-754 bits and reals ride INT_ARRAY, exactly as Presto's
    DoubleType/RealType do;
  - VARIABLE_WIDTH = int32 positionCount, cumulative int32 end
    offsets, nulls, int32 totalLength, concatenated bytes
    (VariableWidthBlockEncoding.java:38-57).

All integers are little-endian (airlift Slice byte order). Codec
markers: bit 1 = COMPRESSED (PageCodecMarker.java COMPRESSED(1)).
Optional ZSTD page compression writes standard zstd frames via
pyarrow — byte-compatible with airlift's ZstdCompressor, applied per
page with the reference's 0.8 minimum-compression-ratio gate
(PagesSerde.java wrapSlice, MINIMUM_COMPRESSION_RATIO). ENCRYPTED
pages are out of scope (SpillCipher key exchange is engine-internal).

Type scope: the flat relational row shape of the fixtures — bigint,
int, smallint, tinyint, boolean, double, real, varchar, varbinary,
date (int32 days), timestamp (int64 MILLIS — Presto 0.235 timestamp
precision; micros are truncated on write, documented divergence from
Spark's micro precision).

Scale note: like sources/avro.py this is worker-side code — one
PAGEFILE per task on write (sources/sink.py). On read the driver
parses each footer (a bounded tail read, the same footer-first split
planning PageFilePageSourceFactory does) and schedules ONE TASK PER
STRIPE, so a single large file still fans out across executors —
stripes are the format's split unit, default 24 MB
(HiveClientConfig.java:169 pageFileStripeMaxSize).
"""

from __future__ import annotations

import datetime
import io
import struct
import sys

import numpy as np

try:  # worker-side code: by-value fallback until the package ships
    from presto_0_235_spark.session import register_worker_module

    register_worker_module(sys.modules[__name__])
except Exception:  # pragma: no cover - older vendored cloudpickle
    pass

COMPRESSED_MARKER = 0x01  # PageCodecMarker.java COMPRESSED(1)
MIN_COMPRESSION_RATIO = 0.8  # PagesSerde.java MINIMUM_COMPRESSION_RATIO
STRIPE_MAX_BYTES = 24 * 1024 * 1024  # HiveClientConfig.java:169
PAGE_MAX_POSITIONS = 4096

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_TS = datetime.datetime(1970, 1, 1)

# kind -> (encoding name, numpy value dtype) for the fixed-width lanes
LONG = "long"  # int64 -> LONG_ARRAY
INT = "int"  # int32 -> INT_ARRAY
SHORT = "short"  # int16 -> SHORT_ARRAY
BYTE = "byte"  # int8 -> BYTE_ARRAY
BOOLEAN = "boolean"  # boolean -> BYTE_ARRAY (ByteArrayBlock, 0/1 cells)
DOUBLE = "double"  # float64 bits -> LONG_ARRAY
REAL = "real"  # float32 bits -> INT_ARRAY
STRING = "string"  # utf8 -> VARIABLE_WIDTH
BINARY = "binary"  # raw -> VARIABLE_WIDTH
DATE = "date"  # int32 days -> INT_ARRAY
TIMESTAMP = "timestamp"  # int64 millis -> LONG_ARRAY

_FIXED = {
    LONG: ("LONG_ARRAY", np.dtype("<i8")),
    INT: ("INT_ARRAY", np.dtype("<i4")),
    SHORT: ("SHORT_ARRAY", np.dtype("<i2")),
    BYTE: ("BYTE_ARRAY", np.dtype("<i1")),
    BOOLEAN: ("BYTE_ARRAY", np.dtype("<i1")),
    DOUBLE: ("LONG_ARRAY", np.dtype("<f8")),
    REAL: ("INT_ARRAY", np.dtype("<f4")),
    DATE: ("INT_ARRAY", np.dtype("<i4")),
    TIMESTAMP: ("LONG_ARRAY", np.dtype("<i8")),
}


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
        "binary": BINARY,
        "date": DATE,
        "timestamp": TIMESTAMP,
        "timestamp_ntz": TIMESTAMP,
    }
    kinds = []
    for f in spark_schema.fields:
        t = f.dataType.simpleString()
        if t not in mapping:
            raise ValueError(f"no PAGEFILE mapping for spark type {t}")
        kinds.append(mapping[t])
    return kinds


# ---- null bit stream (EncoderUtil.java:31-63) ------------------------------


def _encode_nulls(out: io.BytesIO, is_null: np.ndarray) -> None:
    may_have_null = bool(is_null.any())
    out.write(b"\x01" if may_have_null else b"\x00")
    if may_have_null:
        # MSB-first within each byte: position 0 -> 0b1000_0000
        out.write(np.packbits(is_null).tobytes())


def _decode_nulls(buf: memoryview, pos: int, n: int) -> tuple[np.ndarray, int]:
    if buf[pos] == 0:
        return np.zeros(n, dtype=bool), pos + 1
    pos += 1
    nbytes = (n + 7) // 8
    bits = np.unpackbits(
        np.frombuffer(buf[pos : pos + nbytes], dtype=np.uint8)
    )[:n]
    return bits.astype(bool), pos + nbytes


# ---- column <-> block payload ----------------------------------------------


def _to_cells(col, kind: str) -> tuple[np.ndarray, list]:
    """Pandas column -> (is_null bool array, normalized python/numpy
    values list with placeholders at null positions)."""
    import pandas as pd

    def dead(v):
        if v is None or v is pd.NaT:
            return True
        if isinstance(v, (str, bytes, datetime.date, datetime.datetime)):
            return False
        if isinstance(v, (float, np.floating)) and v != v:
            # NaN is a double VALUE in Presto; for any other kind a
            # float NaN is pandas' null marker (Arrow int-with-null
            # columns arrive as float64). At the mapInPandas boundary
            # a genuine SQL NULL double also arrives as NaN — that
            # float lossiness is Arrow-pandas', not the codec's.
            return kind not in (DOUBLE, REAL)
        try:
            return bool(pd.isna(v))
        except (TypeError, ValueError):
            return False

    vals = list(col)
    is_null = np.fromiter((dead(v) for v in vals), dtype=bool,
                          count=len(vals))
    return is_null, vals


def _block_bytes(col, kind: str) -> bytes:
    """One serialized block: int32 name length + name + payload
    (BlockEncodingManager.java:124-127 writeLengthPrefixedString)."""
    is_null, vals = _to_cells(col, kind)
    n = len(vals)
    out = io.BytesIO()

    if kind in (STRING, BINARY):
        name = b"VARIABLE_WIDTH"
        out.write(struct.pack("<i", len(name)))
        out.write(name)
        out.write(struct.pack("<i", n))
        raws = []
        for v, dead in zip(vals, is_null):
            if dead:
                raws.append(b"")
            elif kind == STRING:
                raws.append(str(v).encode("utf-8"))
            else:
                raws.append(bytes(v))
        lengths = np.fromiter((len(r) for r in raws), dtype=np.int64, count=n)
        # cumulative END offsets, one per position (offsets[0] omitted)
        out.write(np.cumsum(lengths).astype("<i4").tobytes())
        _encode_nulls(out, is_null)
        payload = b"".join(raws)
        out.write(struct.pack("<i", len(payload)))
        out.write(payload)
        return out.getvalue()

    enc_name, dtype = _FIXED[kind]
    name = enc_name.encode()
    out.write(struct.pack("<i", len(name)))
    out.write(name)
    out.write(struct.pack("<i", n))
    _encode_nulls(out, is_null)
    live = [v for v, dead in zip(vals, is_null) if not dead]
    if kind == DATE:
        live = [
            (v - _EPOCH_DATE).days if isinstance(v, datetime.date) else int(v)
            for v in live
        ]
    elif kind == TIMESTAMP:
        conv = []
        for v in live:
            if isinstance(v, datetime.datetime):
                delta = v.replace(tzinfo=None) - _EPOCH_TS
                micros = (
                    delta.days * 86_400_000_000
                    + delta.seconds * 1_000_000
                    + delta.microseconds
                )
                conv.append(micros // 1000)  # Presto TIMESTAMP = millis
            else:
                conv.append(int(v))
        live = conv
    elif kind in (BYTE, BOOLEAN):
        live = [int(bool(v)) if isinstance(v, (bool, np.bool_)) else int(v)
                for v in live]
    arr = np.asarray(live, dtype=dtype)
    out.write(arr.tobytes())
    return out.getvalue()


def _decode_block(buf: memoryview, pos: int, kind: str):
    """-> (list of python values with None for nulls, new pos)."""
    name_len = struct.unpack_from("<i", buf, pos)[0]
    pos += 4
    name = bytes(buf[pos : pos + name_len]).decode()
    pos += name_len
    n = struct.unpack_from("<i", buf, pos)[0]
    pos += 4

    if name == "VARIABLE_WIDTH":
        ends = np.frombuffer(buf[pos : pos + 4 * n], dtype="<i4")
        pos += 4 * n
        is_null, pos = _decode_nulls(buf, pos, n)
        total = struct.unpack_from("<i", buf, pos)[0]
        pos += 4
        payload = bytes(buf[pos : pos + total])
        pos += total
        out = []
        start = 0
        for i in range(n):
            end = int(ends[i])
            if is_null[i]:
                out.append(None)
            else:
                raw = payload[start:end]
                out.append(raw.decode("utf-8") if kind == STRING else raw)
            start = end
        return out, pos

    enc_name, dtype = _FIXED[kind]
    if name != enc_name:
        raise ValueError(f"expected {enc_name} for {kind}, found {name}")
    is_null, pos = _decode_nulls(buf, pos, n)
    n_live = int(n - is_null.sum())
    width = dtype.itemsize
    arr = np.frombuffer(buf[pos : pos + width * n_live], dtype=dtype)
    pos += width * n_live
    out = []
    j = 0
    for i in range(n):
        if is_null[i]:
            out.append(None)
            continue
        v = arr[j]
        j += 1
        if kind == DATE:
            out.append(_EPOCH_DATE + datetime.timedelta(days=int(v)))
        elif kind == TIMESTAMP:
            out.append(
                _EPOCH_TS + datetime.timedelta(milliseconds=int(v))
            )
        elif kind == BOOLEAN:
            # Arrow refuses int objects in a boolean target column, so
            # decode to real Python bools for the Spark source path.
            out.append(bool(v))
        elif kind == BYTE:
            out.append(int(v))
        elif kind in (DOUBLE, REAL):
            out.append(float(v))
        else:
            out.append(int(v))
    return out, pos


# ---- page frame (PagesSerdeUtil.java write/readSerializedPage) -------------


def encode_page(columns: list, kinds: list[str], n_rows: int,
                compressor=None) -> bytes:
    slice_out = io.BytesIO()
    slice_out.write(struct.pack("<i", len(columns)))
    for col, kind in zip(columns, kinds):
        slice_out.write(_block_bytes(col, kind))
    raw = slice_out.getvalue()
    markers = 0
    body = raw
    if compressor is not None:
        packed = compressor(raw)
        if len(packed) / max(len(raw), 1) <= MIN_COMPRESSION_RATIO:
            body = packed
            markers = COMPRESSED_MARKER
    head = struct.pack("<i B i i", n_rows, markers, len(raw), len(body))
    return head + body


def decode_page(buf: memoryview, pos: int, kinds: list[str],
                decompressor=None):
    """-> (columns as lists-with-None, n_rows, new pos)."""
    n_rows, markers, unc_size, size = struct.unpack_from("<i B i i", buf, pos)
    pos += 13
    body = buf[pos : pos + size]
    pos += size
    if markers & 0x02:
        raise ValueError("ENCRYPTED PAGEFILE pages are not supported")
    if markers & COMPRESSED_MARKER:
        if decompressor is None:
            raise ValueError(
                "compressed PAGEFILE page but no decompressor available"
            )
        body = memoryview(decompressor(bytes(body), unc_size))
    n_blocks = struct.unpack_from("<i", body, 0)[0]
    if n_blocks != len(kinds):
        raise ValueError(f"page has {n_blocks} blocks, expected {len(kinds)}")
    bpos = 4
    cols = []
    for kind in kinds:
        col, bpos = _decode_block(body, bpos, kind)
        cols.append(col)
    return cols, n_rows, pos


# ---- optional ZSTD page codec (airlift-frame-compatible) -------------------


def zstd_codec():
    """-> (compressor, decompressor) or (None, None) when pyarrow was
    built without zstd. Standard zstd frames == airlift Zstd codec."""
    try:
        import pyarrow as pa

        if not pa.Codec.is_available("zstd"):
            return None, None
        codec = pa.Codec("zstd")
        return (
            lambda raw: codec.compress(raw, asbytes=True),
            lambda raw, size: codec.decompress(raw, size, asbytes=True),
        )
    except Exception:  # pragma: no cover - pyarrow always present here
        return None, None


# ---- whole file ------------------------------------------------------------


def write_file(path: str, pdf, kinds: list[str], compression: str = "none",
               page_positions: int = PAGE_MAX_POSITIONS,
               stripe_max_bytes: int = STRIPE_MAX_BYTES) -> int:
    """Encode one pandas DataFrame into one PAGEFILE. Pages of up to
    ``page_positions`` rows accumulate into stripes of up to
    ``stripe_max_bytes`` (PageWriter.java:46-55 flush discipline);
    the footer records each stripe's start offset."""
    compressor = None
    if compression == "zstd":
        compressor, _ = zstd_codec()
        if compressor is None:
            raise ValueError("pyarrow lacks zstd; use compression='none'")
    elif compression != "none":
        raise ValueError(f"unsupported compression {compression!r}")

    n = len(pdf)
    if n == 0:
        # Reference empty-file shape: zero stripes, footer is just its
        # own int32 size (PageFileFooterOutput.createEmptyPageFileFooterOutput;
        # PageFileFooterReader treats footerOffset==0 as no stripes).
        with open(path, "wb") as fh:
            fh.write(struct.pack("<i", 4))
        return 0
    columns = [pdf[c] for c in pdf.columns]
    stripe_offsets: list[int] = []
    offset = 0
    stripe_bytes = 0
    stripe_started = False
    with open(path, "wb") as fh:
        for lo in range(0, n, page_positions):
            chunk_cols = [c.iloc[lo : lo + page_positions] for c in columns]
            rows = min(page_positions, n - lo)
            page = encode_page(chunk_cols, kinds, rows, compressor)
            if stripe_started and stripe_bytes + len(page) > stripe_max_bytes:
                stripe_bytes = 0
                stripe_started = False
            if not stripe_started:
                stripe_offsets.append(offset)
                stripe_started = True
            fh.write(page)
            offset += len(page)
            stripe_bytes += len(page)
        footer = b"".join(struct.pack("<q", o) for o in stripe_offsets)
        fh.write(footer)
        fh.write(struct.pack("<i", len(footer) + 4))
    return len(stripe_offsets)


def read_footer(path: str) -> tuple[list[int], int]:
    """-> (stripe offsets, footer offset). Bounded tail read, the
    split-planning step (PageFileFooterReader.java:55-75)."""
    import os

    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        fh.seek(max(0, size - 4))
        footer_size = struct.unpack("<i", fh.read(4))[0]
        footer_offset = size - footer_size
        if footer_offset < 0:
            raise ValueError("malformed PAGEFILE: bad footer length")
        fh.seek(footer_offset)
        body = fh.read(footer_size - 4)
    offsets = [
        struct.unpack_from("<q", body, i)[0] for i in range(0, len(body), 8)
    ]
    return offsets, footer_offset


def read_stripe(path: str, start: int, end: int, kinds: list[str]):
    """Decode every page in [start, end) -> list of column-lists."""
    _, decompressor = zstd_codec()
    with open(path, "rb") as fh:
        fh.seek(start)
        buf = memoryview(fh.read(end - start))
    pos = 0
    pages = []
    while pos < len(buf):
        cols, _, pos = decode_page(buf, pos, kinds, decompressor)
        pages.append(cols)
    return pages


# ---- Spark sink/source -----------------------------------------------------


def write_pagefile_dataframe(df, path: str, compression: str = "none") -> int:
    """Distributed PAGEFILE sink: one file per task (the layout every
    Spark file sink and the reference's PageFileWriterFactory use),
    through sources/sink.write_per_task, which keeps nullable longs
    exact. Returns the number of files written."""
    from presto_0_235_spark.sources.sink import write_per_task

    kinds = spark_kinds(df.schema)
    return write_per_task(
        df, path, ".pagefile",
        lambda fname, pdf: write_file(fname, pdf, kinds, compression))


def read_pagefile_dataframe(spark, path: str, spark_schema):
    """Distributed PAGEFILE source with STRIPE-granular splits: the
    driver reads each footer (bounded tail read) and schedules one
    task per stripe, so one big file still parallelizes — the same
    splittability contract PageFilePageSourceFactory provides. The
    (file, start, end) split list rides in the decode closure and
    ``spark.range(0, n, 1, n)`` schedules the n splits, one id per
    task: one job of n tasks, no shuffle. An empty sink reads as an
    empty LocalRelation."""
    import glob
    import os

    import pandas as pd

    from presto_0_235_spark.session import local_rows

    kinds = spark_kinds(spark_schema)
    col_names = [f.name for f in spark_schema.fields]

    splits = []
    for f in sorted(glob.glob(os.path.join(path, "*.pagefile"))):
        offsets, footer_offset = read_footer(f)
        for i, start in enumerate(offsets):
            end = offsets[i + 1] if i + 1 < len(offsets) else footer_offset
            splits.append((f, start, end))
    if not splits:
        return local_rows(spark, [], spark_schema)

    def decode_splits(batches):
        for pdf in batches:
            for i in pdf["id"]:
                p, start, end = splits[i]
                for cols in read_stripe(p, start, end, kinds):
                    yield pd.DataFrame(
                        dict(zip(col_names, cols)), dtype=object
                    )

    n = len(splits)
    return spark.range(0, n, 1, n).mapInPandas(decode_splits, spark_schema)
