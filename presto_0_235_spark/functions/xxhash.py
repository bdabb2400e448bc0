"""Standard XXH64 plus the reference engine's per-type hash mixes and
CHECKSUM term construction.

The reference's ``checksum(x)`` aggregate
(presto-main ChecksumAggregationFunction.java:107-132) is an
order-independent 64-bit sum over per-row terms::

    state += type.hash(row) * PRIME64        # non-null row
    state += PRIME64                         # null row
    output  = state as 8 little-endian bytes (VARBINARY)

with ``PRIME64 = 0x9E3779B185EBCA87`` and wrapping 64-bit arithmetic.
The per-type hashes are:

* every fixed-width type on a long/int/short/byte payload — BIGINT,
  INTEGER, SMALLINT, TINYINT, DATE, TIMESTAMP, short DECIMAL — uses
  the same two-operation "xxhash64 mix"
  (presto-spi AbstractLongType.java:137-141, AbstractIntType.java:139,
  SmallintType.java:168, TinyintType.java:167)::

      rotateLeft(value * 0xC2B2AE3D27D4EB4F, 31) * 0x9E3779B185EBCA87

* DOUBLE applies the mix to ``doubleToLongBits`` with NaN
  canonicalized to 0x7FF8000000000000 (DoubleType.java:78), REAL to
  ``floatToIntBits`` with canonical NaN 0x7FC00000 (RealType.java:59);
* BOOLEAN is 1231 / 1237 (BooleanType.java:101-105, the Java
  Boolean.hashCode constants);
* VARCHAR / VARBINARY hash the raw bytes with XxHash64 seed 0
  (AbstractVariableWidthBlock.java:102-106).

XXH64 itself is implemented from the PUBLIC specification
(github.com/Cyan4973/xxHash, xxhash_spec.md) — no airlift source is
used. It is validated two ways in tests/test_checksum_wire.py: the
spec's published test vectors at seed 0, and a cross-check of both
the byte path (seed 42) and the single-long path against SPARK's own
independent xxhash64 implementation.
"""

from __future__ import annotations

_M64 = (1 << 64) - 1

# XXH64 primes (public spec). PRIME64_1 doubles as the reference's
# checksum multiplier (ChecksumAggregationFunction.PRIME64) and the
# second factor of the fixed-width type mix; PRIME64_2 is the mix's
# first factor.
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

CHECKSUM_PRIME64 = _P1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge_round(h: int, acc: int) -> int:
    h ^= _round(0, acc)
    return (h * _P1 + _P4) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """Standard XXH64 of ``data`` (xxhash_spec.md; airlift's
    XxHash64.hash(Slice) is this algorithm at seed 0)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = _merge_round(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def fixed_width_hash(value: int) -> int:
    """The reference's fixed-width type hash
    (AbstractLongType.java:137-141 and the int/short/byte twins):
    rotateLeft(value * P2, 31) * P1 in wrapping 64-bit arithmetic.
    ``value`` is the signed Java payload (sign-extension is implicit
    in two's-complement masking)."""
    return (_rotl((value * _P2) & _M64, 31) * _P1) & _M64


_CANONICAL_NAN64 = 0x7FF8000000000000
_CANONICAL_NAN32 = 0x7FC00000


def checksum_term(rendered: str | None, type_str: str) -> int:
    """One row's checksum contribution
    (ChecksumAggregationFunction.java:107-115): PRIME64 for a null
    row, else type.hash(value) * PRIME64 — both mod 2^64.

    ``rendered`` is the row rendered by Spark ``CAST(x AS STRING)``
    (binary columns arrive hex()-encoded instead; the SQL template
    arranges this) — strings round-trip every payload exactly,
    including full-range BIGINT, which a float64-coerced Arrow batch
    would corrupt above 2^53. ``type_str`` is Spark ``typeof(x)``.
    """
    import struct
    from datetime import date, datetime, timedelta
    from decimal import Decimal

    if rendered is None:
        return CHECKSUM_PRIME64
    t = type_str
    if t in ("bigint", "int", "smallint", "tinyint"):
        h = fixed_width_hash(int(rendered))
    elif t == "boolean":
        h = 1231 if rendered == "true" else 1237
    elif t == "double":
        d = float(rendered)
        bits = struct.unpack("<q", struct.pack("<d", d))[0]
        if d != d:
            bits = _CANONICAL_NAN64
        h = fixed_width_hash(bits)
    elif t == "float":
        f = float(rendered)
        bits = struct.unpack("<i", struct.pack("<f", f))[0]
        if f != f:
            bits = _CANONICAL_NAN32
        h = fixed_width_hash(bits)
    elif t == "string":
        h = xxh64(rendered.encode("utf-8"))
    elif t == "binary":
        h = xxh64(bytes.fromhex(rendered))
    elif t == "date":
        days = (date.fromisoformat(rendered) - date(1970, 1, 1)).days
        h = fixed_width_hash(days)
    elif t.startswith("timestamp"):
        dt = datetime.fromisoformat(rendered).replace(tzinfo=None)
        # Presto 0.235 TIMESTAMP is millisecond precision
        # (TimestampType extends AbstractLongType over epoch millis);
        # sub-milli digits truncate. Exact integer arithmetic via
        # timedelta floor-division — float epoch-seconds lose ~0.2us
        # at 2026 and int() truncates toward zero for pre-1970 values
        # where Java's calendar-field millis floor.
        millis = (dt - datetime(1970, 1, 1)) // timedelta(milliseconds=1)
        h = fixed_width_hash(millis)
    elif t.startswith("decimal"):
        precision = int(t.split("(")[1].split(",")[0])
        scale = int(t.rstrip(")").split(",")[1])
        if precision > 18:
            raise NotImplementedError(
                "checksum over long DECIMAL (>18 digits) uses the "
                "reference's 128-bit UnscaledDecimal128 hash — out of "
                "scope (short decimals hash like BIGINT unscaled)"
            )
        unscaled = int(
            (Decimal(rendered) * (10 ** scale)).to_integral_value()
        )
        h = fixed_width_hash(unscaled)
    else:
        raise NotImplementedError(f"checksum: unsupported type {t!r}")
    return (h * CHECKSUM_PRIME64) & _M64
