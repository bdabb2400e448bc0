"""HyperLogLog sketches as first-class, mergeable aggregation state.

The reference exposes HLL as a *type* with approx_set / merge /
cardinality (reference SPI/type/HyperLogLogType.java,
MAIN/operator/aggregation/ApproximateSetAggregation.java,
MergeHyperLogLogAggregation.java, scalar
HyperLogLogFunctions.java). Spark only surfaces the final estimate
(approx_count_distinct) — this module restores the *mergeable sketch*
surface in pure DataFrame ops, no UDAF, no Python:

  sketch state = the classic HLL register table, represented
  relationally as rows (group_keys..., register_idx, max_rho)

  - hll_registers(df, keys, col): one aggregation producing the
    register rows — this IS approx_set, stored as data.
  - hll_merge(registers, keys): merge sketches across a *coarser*
    grouping — max of max_rho per register — this IS merge(HLL).
  - hll_cardinality(registers, keys): the LogLog-β-free standard
    estimator with small-range correction — this IS cardinality(hll).

Determinism: the row hash is the portable 60-bit md5 hash
(functions/aggregate.portable_hash64 — identical on any engine with
md5), rho comes from exact integer bit-length (length(bin(w)), no
floating point), and max()/sum() are order-independent — so the
register table AND the estimate are bit-identical on any cluster
layout and replayable in plain SQL on another engine (the
agg_hll_mergeable_sketch oracle replays the whole pipeline in
DuckDB). Swap portable_hash64 for F.xxhash64 when no cross-engine
diff is needed and hash throughput matters.

Scale: one shuffle on (keys, register_idx) with map-side partial max
(2^P * |groups| rows max, P=11 -> 2048 registers/group); merge and
estimate are narrow aggs over the register table. Register tables for
billions of groups stay bounded: rows <= groups * 2048, each 3 small
ints — and persist as ordinary parquet (sketch interop = plain data,
where the reference needs a custom varbinary codec).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Module-level import: the worker-side closures below reference
# murmur3 by name, and workers import it from the package zip that
# session.ensure_session_defaults ships.
from presto_0_235_spark.functions import murmur3 as _mm

HLL_P = 11  # 2^11 = 2048 registers; rel. error ~1.04/sqrt(m) ~ 2.3%
HLL_M = 1 << HLL_P
# Standard HLL alpha constant for m >= 128.
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)


HASH_BITS = 60  # portable_hash64 yields 60 usable bits
RHO_WIDTH = HASH_BITS - HLL_P  # bits feeding the rank


def _register_and_rho(col: Column) -> tuple[Column, Column]:
    """(register index, rank) for one value: index = low P bits of the
    portable 60-bit hash; rank = leading-zero count of the remaining
    bits + 1, computed as RHO_WIDTH + 1 - bitlength(w) via the binary
    string length — exact integer arithmetic, no libm, so any engine
    reproduces it bit-for-bit."""
    from presto_0_235_spark.functions.aggregate import portable_hash64

    h = portable_hash64(col.cast("string"))
    idx = F.pmod(h, F.lit(HLL_M)).cast("int")
    w = F.shiftrightunsigned(h, HLL_P)  # h >= 0: exact floor-div by m
    rho = F.when(w == 0, F.lit(RHO_WIDTH + 1)).otherwise(
        F.lit(RHO_WIDTH + 1) - F.length(F.bin(w)).cast("int")
    )
    return idx, rho.cast("int")


def hll_registers(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """approx_set: per-key HLL register table (the sketch, as rows)."""
    idx, rho = _register_and_rho(F.col(col))
    return (
        df.select(*keys, idx.alias("reg_idx"), rho.alias("rho"))
        .groupBy(*keys, "reg_idx")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(registers: DataFrame, keys: list[str]) -> DataFrame:
    """merge(HLL): combine sketches onto a coarser key set (possibly
    empty = global). Register-wise max — associative, commutative,
    and exactly equal to the sketch built directly on the union."""
    return registers.groupBy(*keys, "reg_idx").agg(
        F.max("max_rho").alias("max_rho")
    )


def _presto_hash_kind(dtype) -> str:
    """Map a Spark column type to the airlift hash input form:
    integer types hash as the 8-byte little-endian long (tinyint
    included — Presto coerces tinyint to bigint for approx_set),
    DOUBLE/REAL as Murmur3 of doubleToLongBits(v), varchar as utf8
    bytes."""
    from pyspark.sql.types import (
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    if isinstance(dtype, (LongType, IntegerType, ShortType, ByteType)):
        return "int"
    if isinstance(dtype, (DoubleType, FloatType)):
        return "double"
    if isinstance(dtype, StringType):
        return "varchar"
    raise TypeError(
        f"no Presto hash mapping for {dtype.simpleString()} — only "
        f"bigint/int, double/real and varchar carry register-exact "
        f"interop"
    )


def _presto_hash_batch(vals, kind: str):
    """One pandas Series -> int64 numpy array of airlift
    Murmur3Hash128.hash64 values (vectorized for fixed-width kinds,
    per-string Python murmur for varchar — unavoidable and
    documented)."""
    import numpy as np

    if kind == "int":
        return _mm.hash64_batch_longs(vals.to_numpy(dtype=np.int64))
    if kind == "double":
        arr = vals.to_numpy(dtype=np.float64)
        bits = arr.view(np.int64).copy()
        # Java doubleToLongBits collapses every NaN payload to the
        # canonical quiet NaN.
        bits[np.isnan(arr)] = 0x7FF8000000000000
        return _mm.hash64_batch_longs(bits)
    return np.array(
        [_mm.hash64(str(v).encode("utf-8")) for v in vals],
        dtype=np.int64,
    )


def hll_presto_registers(
    df: DataFrame, keys: list[str], col: str, p: int = HLL_P
) -> DataFrame:
    """approx_set with PRESTO's exact register contents: values hash
    through Murmur3 x64-128 (airlift Murmur3Hash128.hash64 — integer
    types as their 8-byte little-endian form, DOUBLE/REAL as
    Murmur3 of doubleToLongBits(v) — the IEEE-754 bit pattern with
    Java's canonical quiet NaN — and varchar as utf8 bytes), bucket =
    top p hash bits, value =
    numberOfLeadingZeros(hash << p) + 1 (airlift cardinality.Utils).
    A sketch serialized from these registers via hll_serialize_dense
    is byte-meaningful to a REAL airlift/Presto reader: same
    container AND same register contents, so cross-engine merges are
    lossless. No SQL oracle can replay Murmur3, so queries built on
    this path register rows-only; conformance is pinned against
    Guava's murmur3_128 and golden airlift bucket/value splits in
    tests/test_approx.py.

    Scale: one Arrow batch pass over the fact computes (bucket,
    value) per row — hash AND bucket/rho split fully numpy-vectorized
    for integer and double columns (zero per-element Python),
    per-value Python murmur only for strings — then registers
    collapse to at most 2^p rows per group before any shuffle leaves
    the map side."""
    kind = _presto_hash_kind(df.schema[col].dataType)
    fields = [
        f"{k} {df.schema[k].dataType.simpleString()}" for k in keys
    ]
    out_schema = ", ".join(fields + ["reg_idx int", "rho int"])

    def batch(iterator):
        for pdf in iterator:
            hashes = _presto_hash_batch(pdf[col], kind)
            buckets, rhos = _mm.hll_bucket_value_batch(hashes, p)
            out = pdf[keys].copy()
            out["reg_idx"] = buckets
            out["rho"] = rhos
            yield out

    # Presto's approx_set skips NULL inputs (they contribute no
    # register); without this filter the int path raises and the
    # varchar path would hash the literal string 'None'.
    rows = (
        df.filter(F.col(col).isNotNull())
        .select(*keys, col)
        .mapInPandas(batch, out_schema)
    )
    return rows.groupBy(*keys, "reg_idx").agg(
        F.max("rho").alias("max_rho")
    )


def hll_presto_sparse_entries(
    df: DataFrame, keys: list[str], col: str
) -> DataFrame:
    """approx_set state in Presto's SPARSE form: per-key 32-bit
    sparse entries (26-bit hash prefix | 6-bit zeros-after-prefix,
    airlift SparseHll) ready for hll_serialize_sparse. Same typed
    Murmur3 hashing as hll_presto_registers; the groupBy collapses
    duplicate prefixes map-side keeping the max stored zero-count
    (airlift's insert rule). Sparse state is only bounded when the
    per-key cardinality is low — the caller is responsible for
    converting groups past the 2^16 entry limit to dense, exactly
    as airlift's HyperLogLog wrapper does."""
    kind = _presto_hash_kind(df.schema[col].dataType)
    fields = [
        f"{k} {df.schema[k].dataType.simpleString()}" for k in keys
    ]
    out_schema = ", ".join(fields + ["prefix int", "zeros int"])

    def batch(iterator):
        import numpy as np

        for pdf in iterator:
            hashes = _presto_hash_batch(pdf[col], kind)
            entries = hll_sparse_encode_batch(hashes)
            out = pdf[keys].copy()
            # entries are < 2^32, so int64 shifts are sign-safe
            out["prefix"] = entries >> np.int64(_SPARSE_VALUE_BITS)
            out["zeros"] = entries & np.int64(_SPARSE_VALUE_MASK)
            yield out

    rows = (
        df.filter(F.col(col).isNotNull())
        .select(*keys, col)
        .mapInPandas(batch, out_schema)
    )
    return rows.groupBy(*keys, "prefix").agg(
        F.max("zeros").alias("zeros")
    )


def hll_cardinality(registers: DataFrame, keys: list[str]) -> DataFrame:
    """cardinality(HLL): alpha*m^2 / (zeros + sum 2^-rho), with the
    standard linear-counting correction when the estimate is small.

    sum 2^-rho is accumulated as the exact integer sum of
    2^(RHO_WIDTH+1-rho) (order-independent, overflow-free: <= m *
    2^RHO_WIDTH = 2^60), scaled back to double once — so the estimate
    is identical on every engine and cluster layout."""
    scale = RHO_WIDTH + 1  # max rho; 2^(scale-rho) is a bigint
    agg = registers.groupBy(*keys).agg(
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {scale} - max_rho)")
        ).alias("inv_scaled"),
        F.count("*").alias("nonzero"),
    )
    zeros = (F.lit(HLL_M) - F.col("nonzero")).cast("double")
    inv_sum = F.col("inv_scaled").cast("double") / F.lit(float(1 << scale))
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / (inv_sum + zeros)
    linear = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros)
    estimate = F.when(
        (raw <= 2.5 * HLL_M) & (zeros > 0), linear
    ).otherwise(raw)
    return agg.select(
        *keys, F.round(estimate).cast("bigint").alias("approx_distinct")
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch (qdigest/tdigest interop analog,
# reference SPI/type/QuantileDigestType.java, TDigestType.java,
# QuantileDigestAggregationFunction.java). Fixed-bin histogram state:
# coarser than a true qdigest but carries the property that matters —
# the state is mergeable data rows — while staying integer-exact, so
# unlike HLL the whole pipeline (state, merge, estimate) can be
# differentially verified against SQL, not just bound-tested.

QH_BINS = 256


def qhist_registers(
    df: DataFrame,
    keys: list[str],
    col: str,
    lo: float,
    hi: float,
    bins: int = QH_BINS,
) -> DataFrame:
    """Quantile-sketch state: per-key histogram rows (bin, n).
    One shuffle with map-side partial counts; <= bins rows per key."""
    x = F.col(col)
    b = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((x - F.lit(lo)) / F.lit(hi - lo) * bins).cast("int"),
        ),
    )
    return (
        df.select(*keys, b.alias("bin"))
        .groupBy(*keys, "bin")
        .agg(F.count("*").alias("n"))
    )


def qhist_merge(registers: DataFrame, keys: list[str]) -> DataFrame:
    """Merge sketches onto a coarser key set: sum counts per bin —
    associative/commutative/exact."""
    return registers.groupBy(*keys, "bin").agg(F.sum("n").alias("n"))


def qhist_quantile(
    registers: DataFrame,
    keys: list[str],
    q: float,
    lo: float,
    hi: float,
    bins: int = QH_BINS,
) -> DataFrame:
    """Estimate the q-quantile from the histogram state: the midpoint
    of the first bin whose cumulative count reaches ceil(q * total).
    Integer thresholds -> engine-exact."""
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*keys)
    width = (hi - lo) / bins
    cum = registers.withColumn("cumn", F.sum("n").over(w_cum)).withColumn(
        "total", F.sum("n").over(w_tot)
    )
    hit = cum.filter(
        F.col("cumn") >= F.ceil(F.lit(q) * F.col("total"))
    )
    first_bin = hit.groupBy(*keys).agg(F.min("bin").alias("qbin"))
    return first_bin.select(
        *keys,
        (F.lit(lo) + (F.col("qbin") + 0.5) * F.lit(width)).alias(
            f"q{int(q * 100)}"
        ),
    )


def qhist_quantile_at_value(
    registers: DataFrame,
    keys: list[str],
    value: float,
    lo: float,
    hi: float,
    bins: int = QH_BINS,
    out: str = "q_at_value",
) -> DataFrame:
    """Inverse of qhist_quantile: the rank of `value` in the sketch —
    mass at or below value's bin over total mass (reference
    TDigestFunctions.java:56 quantileAtValue). A ratio of two exact
    integer counts -> engine-exact double; one tiny aggregation over
    the <= bins rows per key."""
    vbin = min(bins - 1, max(0, int((value - lo) / (hi - lo) * bins)))
    return registers.groupBy(*keys).agg(
        (
            F.coalesce(
                F.sum(F.when(F.col("bin") <= vbin, F.col("n"))), F.lit(0)
            ).cast("double")
            / F.sum("n")
        ).alias(out)
    )


# ---------------------------------------------------------------------------
# HyperLogLog wire format (Presto/airlift DENSE_V2 layout).
#
# The reference exchanges HLL state as varbinary in the airlift
# serialization (com.facebook.airlift.stats.cardinality.HyperLogLog,
# used by HyperLogLogUtils.java / approx_set & merge; the layout is
# defined by the PUBLIC airlift DenseHll source):
#
#   byte  0              format tag (3 = DENSE_V2)
#   byte  1              indexBitLength p  (numBuckets = 2^p)
#   byte  2              baseline (minimum register value)
#   bytes 3 .. 3+2^p/2   4-bit deltas, two buckets per byte — EVEN
#                        bucket in the HIGH nibble (airlift
#                        shiftForBucket(bucket) = ((~bucket)&1)<<2)
#   short (LE)           number of overflow entries
#   short (LE) * n       overflow bucket indexes
#   byte * n             overflow values
#
# register value = baseline + delta (+ overflow when delta == 15).
#
# INTEROP SCOPE: these bytes parse in any airlift reader and this
# codec parses airlift-written dense sketches — the CONTAINER is
# compatible. Register CONTENTS come in two flavors:
#   - hll_registers (portable md5-based hash): replayable in SQL, so
#     the whole pipeline carries an exact DuckDB oracle; NOT
#     merge-compatible with a real Presto sketch.
#   - hll_presto_registers (Murmur3 x64-128, r8): airlift's exact
#     hash + bucket/value split, so a DENSE_V2 sketch built here
#     merges losslessly with one built by real Presto over the same
#     values. Murmur3 is pinned against Guava's murmur3_128 in
#     tests/test_approx.py; no SQL oracle can replay it, so queries
#     on this path register rows-only.

_DENSE_V2_TAG = 3
_MAX_DELTA = 15


def hll_serialize_dense(registers: dict[int, int], p: int = HLL_P) -> bytes:
    """Register map {bucket: value} -> DENSE_V2 bytes. Buckets not
    present hold 0. Baseline is the true minimum over ALL buckets
    (0 whenever any register is empty, matching a dense encoder)."""
    import struct

    m = 1 << p
    values = bytearray(m)
    for bucket, value in registers.items():
        if not 0 <= bucket < m:
            raise ValueError(f"bucket {bucket} out of range for p={p}")
        values[bucket] = value
    baseline = min(values)
    deltas = bytearray(m // 2)
    overflows: list[tuple[int, int]] = []
    for bucket, value in enumerate(values):
        delta = value - baseline
        if delta > _MAX_DELTA:
            overflows.append((bucket, delta - _MAX_DELTA))
            delta = _MAX_DELTA
        shift = ((~bucket) & 1) << 2  # even bucket -> high nibble
        deltas[bucket >> 1] |= delta << shift
    out = bytearray()
    out += struct.pack("<BBB", _DENSE_V2_TAG, p, baseline)
    out += deltas
    out += struct.pack("<H", len(overflows))
    for bucket, _ in overflows:
        out += struct.pack("<H", bucket)
    for _, over in overflows:
        out += struct.pack("<B", over)
    return bytes(out)


def hll_deserialize_dense(data: bytes) -> tuple[int, dict[int, int]]:
    """DENSE_V2 bytes -> (p, {bucket: value}) with zero-valued
    buckets omitted (the register-table row form)."""
    import struct

    tag, p, baseline = struct.unpack_from("<BBB", data, 0)
    if tag != _DENSE_V2_TAG:
        raise ValueError(f"not a DENSE_V2 HLL (tag {tag})")
    m = 1 << p
    pos = 3
    deltas = data[pos : pos + m // 2]
    pos += m // 2
    (n_over,) = struct.unpack_from("<H", data, pos)
    pos += 2
    over_buckets = struct.unpack_from(f"<{n_over}H", data, pos)
    pos += 2 * n_over
    over_values = struct.unpack_from(f"<{n_over}B", data, pos)
    overflow = dict(zip(over_buckets, over_values))
    registers: dict[int, int] = {}
    for bucket in range(m):
        shift = ((~bucket) & 1) << 2
        delta = (deltas[bucket >> 1] >> shift) & 0xF
        value = baseline + delta
        if delta == _MAX_DELTA:
            value += overflow.get(bucket, 0)
        if value:
            registers[bucket] = value
    return p, registers


def hll_merge_bytes(*sketches: bytes) -> bytes:
    """merge(HLL, HLL, ...) on the wire form, accepting BOTH tags
    (real Presto emits SPARSE_V2 for low-cardinality groups). All
    sparse inputs -> sparse union (entry-wise, lossless); any dense
    input promotes the whole merge to dense via register-wise max —
    exactly airlift's HyperLogLog.mergeWith promotion. Equals the
    sketch built directly on the concatenated inputs — the
    MergeHyperLogLogAggregation.java contract."""
    p_seen = None
    sparse_entries: list[int] = []
    merged: dict[int, int] = {}
    any_dense = False
    for data in sketches:
        if data[0] == _SPARSE_V2_TAG:
            p, entries = hll_deserialize_sparse(data)
            sparse_entries.extend(entries)
        else:
            p, regs = hll_deserialize_dense(data)
            any_dense = True
            for bucket, value in regs.items():
                if value > merged.get(bucket, 0):
                    merged[bucket] = value
        if p_seen is None:
            p_seen = p
        elif p != p_seen:
            raise ValueError(f"bucket counts differ: 2^{p_seen} vs 2^{p}")
    p_out = p_seen if p_seen is not None else HLL_P
    if not any_dense:
        deduped = _sparse_dedupe(sparse_entries)
        if len(deduped) <= _SPARSE_MAX_ENTRIES:
            return hll_serialize_sparse(deduped, p_out)
        # sparse union overflows the signed-short count field:
        # promote to dense, as airlift HyperLogLog.mergeWith does
        # (it never emits an oversized sparse sketch).
        any_dense = True
    for bucket, value in hll_sparse_to_registers(
        p_out, sparse_entries
    ).items():
        if value > merged.get(bucket, 0):
            merged[bucket] = value
    return hll_serialize_dense(merged, p_out)


def hll_estimate_registers(registers: dict[int, int]) -> int:
    """Driver-side estimate from a register map — the same
    alpha*m^2 / sum(2^-rho) + linear-counting formula
    hll_cardinality evaluates distributively."""
    import math

    zeros = HLL_M - len(registers)
    inv_sum = zeros * 1.0 + sum(2.0 ** -v for v in registers.values())
    raw = HLL_ALPHA * HLL_M * HLL_M / inv_sum
    if raw <= 2.5 * HLL_M and zeros > 0:
        return round(HLL_M * math.log(HLL_M / zeros))
    return round(raw)


# ---------------------------------------------------------------------------
# HyperLogLog SPARSE_V2 wire format (airlift SparseHll, tag 2).
#
# A real Presto approx_set over a LOW-cardinality column serializes
# the sparse representation, not DENSE_V2 — the airlift HyperLogLog
# wrapper starts sparse and only converts to dense when the entry
# table would outgrow the dense register array. The layout (public
# airlift stats/cardinality SparseHll serialization):
#
#   byte  0        format tag (2 = SPARSE_V2)
#   byte  1        indexBitLength p
#   short (LE)     number of entries
#   int   (LE) * n entries, sorted ascending by hash prefix
#
# Each 32-bit entry packs the top 26 bits of the 64-bit value hash
# (EXTENDED_PREFIX_BITS = 32 - VALUE_BITS) above a 6-bit count of
# the zeros immediately AFTER that prefix:
#
#   entry = (hash >>> 38) << 6  |  nlz(hash << 26)
#
# Storing the raw 26-bit prefix (not just the p-bit bucket) is what
# lets sparse sketches (a) convert losslessly to dense for ANY
# p <= 26 — the dense bucket and rank are both recoverable — and
# (b) estimate cardinality by linear counting over 2^26 virtual
# buckets, which is near-exact in the sparse regime. Conversion to
# dense registers (airlift SparseHll.eachBucket): bucket = top p
# bits of the entry; zeros = nlz32(entry << p) unless that count
# runs past the prefix (the remaining prefix bits are all zero), in
# which case zeros = (26 - p) + the stored 6-bit value; register
# value = zeros + 1.
#
# Self-consistency is pinned in tests/test_approx.py: for
# adversarial hashes (including the all-zero-after-bucket branch)
# sparse encode -> dense conversion must equal direct dense
# insertion — the property any correct sparse layout must satisfy —
# and the container header/entry bytes are golden-pinned.

_SPARSE_V2_TAG = 2
# Java Slice readShort() is signed — counts past 0x7FFF would read
# back negative in a real airlift deserializer, so cap there.
_SPARSE_MAX_ENTRIES = 0x7FFF
_SPARSE_VALUE_BITS = 6
_SPARSE_VALUE_MASK = (1 << _SPARSE_VALUE_BITS) - 1
_SPARSE_PREFIX_BITS = 32 - _SPARSE_VALUE_BITS  # 26
_U64 = 0xFFFFFFFFFFFFFFFF


def hll_sparse_encode_hash(h: int) -> int:
    """64-bit value hash -> 32-bit sparse entry:
    (top 26 hash bits << 6) | min(nlz(hash << 26), 63)."""
    u = h & _U64
    prefix = u >> (64 - _SPARSE_PREFIX_BITS)
    shifted = (u << _SPARSE_PREFIX_BITS) & _U64
    zeros = (64 - shifted.bit_length()) if shifted else 64
    return (prefix << _SPARSE_VALUE_BITS) | min(zeros, _SPARSE_VALUE_MASK)


def hll_sparse_encode_batch(hashes):
    """Vectorized hll_sparse_encode_hash over an int64 hash array —
    same numpy bit math as the dense bucket/value split."""
    import numpy as np

    u = hashes.astype(np.int64).view(np.uint64)
    prefix = u >> np.uint64(64 - _SPARSE_PREFIX_BITS)
    s = u << np.uint64(_SPARSE_PREFIX_BITS)
    zeros = np.where(
        s == np.uint64(0), 64, np.int64(64) - _mm.bit_length_u64(s)
    )
    zeros = np.minimum(zeros, _SPARSE_VALUE_MASK).astype(np.uint64)
    return (
        ((prefix << np.uint64(_SPARSE_VALUE_BITS)) | zeros)
        .astype(np.uint64)
        .astype(np.int64)
    )


def _sparse_dedupe(entries) -> list[int]:
    """One entry per 26-bit prefix, keeping the max zero-count
    (equal prefixes hash-collide above bit 38; the larger stored
    count dominates, as in airlift's insert), sorted by prefix."""
    best: dict[int, int] = {}
    for e in entries:
        pre = int(e) >> _SPARSE_VALUE_BITS
        v = int(e) & _SPARSE_VALUE_MASK
        if v > best.get(pre, -1):
            best[pre] = v
    return [
        (pre << _SPARSE_VALUE_BITS) | best[pre] for pre in sorted(best)
    ]


def hll_serialize_sparse(entries, p: int = HLL_P) -> bytes:
    """Sparse entries (32-bit ints, any order/dupes) -> SPARSE_V2
    bytes."""
    import struct

    deduped = _sparse_dedupe(entries)
    if len(deduped) > _SPARSE_MAX_ENTRIES:
        # 0x7FFF, not 0xFFFF: the count field is read as a Java
        # short (Slice.readShort is SIGNED) by real airlift readers —
        # 32768..65535 would deserialize as negative counts. Airlift
        # itself promotes sparse -> dense far below this.
        raise ValueError(
            f"{len(deduped)} sparse entries exceed the signed-short "
            "count field — convert to dense first"
        )
    out = bytearray(
        struct.pack("<BBH", _SPARSE_V2_TAG, p, len(deduped))
    )
    for e in deduped:
        out += struct.pack("<I", e & 0xFFFFFFFF)
    return bytes(out)


def hll_deserialize_sparse(data: bytes) -> tuple[int, list[int]]:
    """SPARSE_V2 bytes -> (p, sorted entry list)."""
    import struct

    tag, p = struct.unpack_from("<BB", data, 0)
    if tag != _SPARSE_V2_TAG:
        raise ValueError(f"not a SPARSE_V2 HLL (tag {tag})")
    (n,) = struct.unpack_from("<H", data, 2)
    return p, list(struct.unpack_from(f"<{n}I", data, 4))


def hll_sparse_to_registers(p: int, entries) -> dict[int, int]:
    """Sparse entries -> dense register map {bucket: value} (airlift
    SparseHll.eachBucket / toDense)."""
    registers: dict[int, int] = {}
    for e in entries:
        e = int(e) & 0xFFFFFFFF
        bucket = e >> (32 - p)
        shifted = (e << p) & 0xFFFFFFFF
        zeros = (32 - shifted.bit_length()) if shifted else 32
        if zeros >= _SPARSE_PREFIX_BITS - p:
            # the rest of the prefix is all zeros: the true run
            # continues into the stored zeros-after-prefix count.
            # ``>=`` not ``>``: with zero remaining-prefix bits and a
            # stored count >= 32 (6-bit value, top bit set) the
            # leading-zero count of ``shifted`` is EXACTLY 26 - p, and
            # a strict comparison drops the stored count (register 16
            # instead of 49 for hash (0x5A3<<53)|(1<<4) at p=11). The
            # equality case can only arise with an all-zero remaining
            # prefix — a set prefix bit forces zeros < 26 - p — so the
            # widened branch never misfires.
            zeros = (_SPARSE_PREFIX_BITS - p) + (
                e & _SPARSE_VALUE_MASK
            )
        value = zeros + 1
        if value > registers.get(bucket, 0):
            registers[bucket] = value
    return registers


def hll_sparse_cardinality(entries) -> int:
    """Linear counting over the 2^26 virtual prefix buckets — the
    airlift SparseHll estimator (near-exact in the sparse regime)."""
    import math

    total = 1 << _SPARSE_PREFIX_BITS
    distinct = len({int(e) >> _SPARSE_VALUE_BITS for e in entries})
    zeros = total - distinct
    return round(total * math.log(total / zeros))


def hll_estimate_bytes(data: bytes) -> int:
    """cardinality(HLL) on a wire sketch, either tag."""
    tag = data[0]
    if tag == _SPARSE_V2_TAG:
        _, entries = hll_deserialize_sparse(data)
        return hll_sparse_cardinality(entries)
    _, registers = hll_deserialize_dense(data)
    return hll_estimate_registers(registers)


# ---------------------------------------------------------------------------
# KMV / KHyperLogLog (reference type/khyperloglog/KHyperLogLog.java).
#
# The reference's KHyperLogLog keeps the K smallest value-hashes
# (a sorted minhash table) with one HLL per kept hash counting the
# "user" ids seen with that value; cardinality() extrapolates from
# the stored hash density (KHyperLogLog.java:259, the Beyer et al.
# KMV estimator: "On Synopses for Distinct-Value Estimation Under
# Multiset Operations"), and uniquenessDistribution() histograms
# per-value user counts (KHyperLogLogFunctions.java:80) — the
# reidentification-analysis signature.
#
# Engine model: the minhash table as ROWS (keys, h, value) — k
# smallest DISTINCT portable hashes per key group, kept by a
# hash-ranked WindowGroupLimit (partial top-k before the shuffle).
# Per-kept-value user counting is EXACT (count distinct over the
# k-value sample) where the reference uses a per-hash HLL — same
# semantics, deterministic, and fully SQL-replayable; the HLL
# variant only trades exactness for constant per-hash state, which
# matters at the reference's k=2048 x uii-cardinality scale, not
# for the sample sizes the histogram is read at (documented
# deviation).

KMV_K = 256
KMV_HASH_RANGE = float(1 << 60)  # portable_hash64 yields [0, 2^60)


def kmv_registers(
    df: DataFrame, keys: list[str], col: str, k: int = KMV_K
) -> DataFrame:
    """khyperloglog_agg's minhash table: the k smallest distinct
    value-hashes per key group, with the value retained (the
    reference keeps it implicitly via the per-hash HLL handle)."""
    from pyspark.sql import Window

    from presto_0_235_spark.functions.aggregate import portable_hash64

    distinct = (
        df.select(*keys, F.col(col).alias("kmv_value"))
        .distinct()
        .withColumn(
            "kmv_hash", portable_hash64(F.col("kmv_value").cast("string"))
        )
    )
    w = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    rn = F.row_number().over(w.orderBy(F.col("kmv_hash").asc()))
    return (
        distinct.withColumn("__rn", rn)
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_merge(
    registers: DataFrame, keys: list[str], k: int = KMV_K
) -> DataFrame:
    """merge_khll onto a coarser key set: union the tables, re-rank,
    keep the k smallest — exactly the sketch built on the union
    (minhash tables are mergeable by construction)."""
    from pyspark.sql import Window

    dedup = registers.select(*keys, "kmv_value", "kmv_hash").distinct()
    w = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    rn = F.row_number().over(w.orderBy(F.col("kmv_hash").asc()))
    return dedup.withColumn("__rn", rn).filter(F.col("__rn") <= k).drop("__rn")


def kmv_cardinality(
    registers: DataFrame, keys: list[str], k: int = KMV_K
) -> DataFrame:
    """cardinality(khll) (KHyperLogLog.java:259): exact when fewer
    than k hashes are stored; otherwise the KMV density estimator
    (k-1) * H / h_k with H the hash range and h_k the largest kept
    hash — integer inputs, one double division, so the estimate is
    bit-identical on any engine."""
    agg = registers.groupBy(*keys).agg(
        F.count("*").alias("n"), F.max("kmv_hash").alias("h_k")
    )
    est = F.when(F.col("n") < k, F.col("n").cast("double")).otherwise(
        F.lit(float(k - 1))
        * F.lit(KMV_HASH_RANGE)
        / F.col("h_k").cast("double")
    )
    return agg.select(
        *keys, F.round(est).cast("bigint").alias("approx_distinct")
    )


def kmv_jaccard(a: DataFrame, b: DataFrame, k: int = KMV_K) -> DataFrame:
    """jaccard_index(setdigest, setdigest)
    (type/setdigest/SetDigest.java:166): over the s smallest hashes
    of the UNION of the two minhash tables (s = the smaller table's
    size), the fraction present in both — the classic MinHash
    estimate of |A∩B|/|A∪B|. Inputs are global kmv_registers tables;
    output one row (s, intersection, jaccard). The union ranking is
    a single window over <= 2k rows; the size bound s arrives via a
    single-row cross join — everything deterministic and
    SQL-replayable."""
    from pyspark.sql import Window

    fa = a.select(F.col("kmv_hash").alias("h"), F.lit(1).alias("in_a"))
    fb = b.select(F.col("kmv_hash").alias("h"), F.lit(1).alias("in_b"))
    u = (
        fa.join(fb, "h", "full_outer")
        .fillna(0, ["in_a", "in_b"])
    )
    sizes = a.agg(F.count("*").alias("na")).crossJoin(
        b.agg(F.count("*").alias("nb"))
    ).select(F.least("na", "nb").alias("s"))
    ranked = u.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("h").asc()))
    )
    return (
        ranked.crossJoin(F.broadcast(sizes))
        .filter(F.col("rn") <= F.col("s"))
        .agg(
            F.first("s").alias("s"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("intersection"),
        )
        .select(
            "s",
            "intersection",
            (F.col("intersection").cast("double") / F.col("s")).alias(
                "jaccard"
            ),
        )
    )


def qhist_scale(registers: DataFrame, factor: int) -> DataFrame:
    """scale_qdigest(qdigest, factor)
    (QuantileDigestFunctions.java scaleQDigest): multiply every
    stored weight by the factor — used to re-weight a sketch before
    merging sketches of unequal sampling rates. Integer factor keeps
    the state exact; quantiles are invariant under uniform scaling
    (the property the query pins)."""
    return registers.withColumn("n", F.col("n") * factor)
