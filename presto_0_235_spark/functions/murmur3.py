"""MurmurHash3 x64-128 — the reference engine's sketch hash.

Presto hashes values into HyperLogLog / SetDigest sketches with
airlift's ``Murmur3Hash128`` (used by the public airlift
``cardinality.HyperLogLog`` that backs approx_set / approx_distinct —
HyperLogLogUtils.java exchanges its serialized state). That class is
a port of Austin Appleby's public-domain MurmurHash3_x64_128 with
seed 0; ``hash64`` returns the first 64 bits. This module implements
the same algorithm in Python so the engine's DENSE_V2 wire sketches
can carry REGISTER CONTENTS a real airlift reader reproduces —
closing the one interop gap the r7 container-only codec documented.

Conformance is pinned two ways in tests/test_approx.py:
  - cross-implementation: every hash compared against Guava's
    ``Hashing.murmur3_128()`` (an independent canonical port that
    ships on Spark's classpath) over lengths covering all tail
    paths (0..17 bytes) plus the hashLong fast path;
  - the airlift bucket/value split: bucket = top ``p`` bits, value =
    numberOfLeadingZeros(hash << p) + 1 (airlift Utils.java
    indexBitLength/computeValue contract).

Scale: string hashing is per-value Python, but it runs INSIDE Arrow
``applyInPandas`` batches on executors and only on the sketch-build
pass (one hash per row, then registers collapse to 2^p rows);
fixed-width longs hash through the vectorized numpy path.
"""

from __future__ import annotations

import struct

import numpy as np

_MASK = 0xFFFFFFFFFFFFFFFF
_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _fmix(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _MASK
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _MASK
    k ^= k >> 33
    return k


def murmur3_x64_128(data: bytes, seed: int = 0) -> tuple[int, int]:
    """MurmurHash3_x64_128 -> (h1, h2) as unsigned 64-bit ints."""
    length = len(data)
    h1 = h2 = seed & _MASK
    n_blocks = length // 16
    for i in range(n_blocks):
        k1, k2 = struct.unpack_from("<QQ", data, i * 16)
        k1 = (k1 * _C1) & _MASK
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _MASK
        h1 ^= k1
        h1 = _rotl(h1, 27)
        h1 = (h1 + h2) & _MASK
        h1 = (h1 * 5 + 0x52DCE729) & _MASK
        k2 = (k2 * _C2) & _MASK
        k2 = _rotl(k2, 33)
        k2 = (k2 * _C1) & _MASK
        h2 ^= k2
        h2 = _rotl(h2, 31)
        h2 = (h2 + h1) & _MASK
        h2 = (h2 * 5 + 0x38495AB5) & _MASK
    tail = data[n_blocks * 16 :]
    k1 = k2 = 0
    t = len(tail)
    if t > 8:
        k2 = int.from_bytes(tail[8:].ljust(8, b"\0"), "little")
        k2 = (k2 * _C2) & _MASK
        k2 = _rotl(k2, 33)
        k2 = (k2 * _C1) & _MASK
        h2 ^= k2
    if t > 0:
        k1 = int.from_bytes(tail[:8].ljust(8, b"\0"), "little")
        k1 = (k1 * _C1) & _MASK
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _MASK
        h1 ^= k1
    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _MASK
    h2 = (h2 + h1) & _MASK
    h1 = _fmix(h1)
    h2 = _fmix(h2)
    h1 = (h1 + h2) & _MASK
    h2 = (h2 + h1) & _MASK
    return h1, h2


def hash64(data: bytes) -> int:
    """airlift Murmur3Hash128.hash64(Slice): first 64 bits, SIGNED
    (a Java long)."""
    h1, _ = murmur3_x64_128(data)
    return h1 - (1 << 64) if h1 >= (1 << 63) else h1


def hash64_long(value: int) -> int:
    """airlift Murmur3Hash128.hash64(long) == hash64 of the 8-byte
    little-endian representation (Guava hashLong agrees)."""
    return hash64(struct.pack("<q", value))


def hash64_batch_longs(values: np.ndarray) -> np.ndarray:
    """Vectorized hash64 over an int64 array (8-byte LE inputs:
    one tail block, no 16-byte body) — the numpy translation of the
    scalar path above, used for fixed-width columns in Arrow UDFs."""
    k1 = values.astype(np.int64).view(np.uint64).copy()
    h1 = np.zeros_like(k1)
    h2 = np.zeros_like(k1)
    c1 = np.uint64(_C1)
    c2 = np.uint64(_C2)

    def rotl(x, r):
        return (x << np.uint64(r)) | (x >> np.uint64(64 - r))

    k1 *= c1
    k1 = rotl(k1, 31)
    k1 *= c2
    h1 ^= k1
    h1 ^= np.uint64(8)
    h2 ^= np.uint64(8)
    h1 += h2
    h2 += h1

    def fmix(k):
        k ^= k >> np.uint64(33)
        k *= np.uint64(0xFF51AFD7ED558CCD)
        k ^= k >> np.uint64(33)
        k *= np.uint64(0xC4CEB9FE1A85EC53)
        k ^= k >> np.uint64(33)
        return k

    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 += h2
    return h1.view(np.int64)


# ---- airlift HLL bucket/value split ---------------------------------------


def hll_bucket_value(h: int, p: int) -> tuple[int, int]:
    """airlift cardinality.Utils: bucket = top p bits of the
    (unsigned) hash; value = numberOfLeadingZeros(hash << p) + 1."""
    u = h & _MASK
    bucket = u >> (64 - p)
    shifted = (u << p) & _MASK
    if shifted == 0:
        value = 65
    else:
        value = 64 - shifted.bit_length() + 1
    return bucket, value


def bit_length_u64(values: np.ndarray) -> np.ndarray:
    """Vectorized int.bit_length over a uint64 array (0 -> 0) — a
    shift-or smear (fills every bit below the MSB) followed by a SWAR
    popcount. Exact integer arithmetic, no float exponent tricks
    (which mis-round near power-of-two boundaries)."""
    t = values.copy()
    for r in (1, 2, 4, 8, 16, 32):
        t |= t >> np.uint64(r)
    t = t - ((t >> np.uint64(1)) & np.uint64(0x5555555555555555))
    t = (t & np.uint64(0x3333333333333333)) + (
        (t >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    t = (t + (t >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((t * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(
        np.int64
    )


def hll_bucket_value_batch(
    hashes: np.ndarray, p: int
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized hll_bucket_value over an int64 hash array — pure
    numpy bit math, zero per-element Python. nlz(hash << p) =
    64 - bit_length(hash << p). Pinned element-for-element against
    the scalar hll_bucket_value in tests/test_approx.py."""
    u = hashes.astype(np.int64).view(np.uint64)
    bucket = (u >> np.uint64(64 - p)).astype(np.int64)
    s = u << np.uint64(p)  # wraps mod 2^64, same as (u << p) & _MASK
    bitlen = bit_length_u64(s)
    value = np.where(s == np.uint64(0), 65, 65 - bitlen).astype(np.int64)
    return bucket, value
