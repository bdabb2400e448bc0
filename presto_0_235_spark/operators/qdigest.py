"""Semantic q-digest quantile sketch (qdigest(bigint)).

The reference exposes airlift's qdigest through qdigest_agg /
value_at_quantile / values_at_quantiles / quantile_at_value
(QuantileDigestAggregationFunction.java, QuantileDigestFunctions.java
— DEFAULT_ACCURACY 0.01, DEFAULT_WEIGHT 1). The airlift BYTE layout
is unverifiable on this machine (no airlift source or jar), so byte
interop stays out of scope (documented since r10); THIS module
implements the underlying public algorithm — Shrivastava, Buragohain,
Agrawal, Suri, "Medians and Beyond: New Aggregation Techniques for
Sensor Networks" (SenSys 2004) — as a semantic, MERGEABLE sketch with
the reference's function-surface semantics:

  - rank error: |estimated rank - true rank| <= accuracy * N
  - mergeable: merge(build(A), build(B)) obeys the same bound on A+B
  - value_at_quantile returns the upper bound of the dyadic node
    where the cumulative count crosses the rank (the q-digest
    convention airlift follows); values_at_quantiles maps a list;
    quantile_at_value is the inverse rank estimate.

Structure: a sparse dict over dyadic ranges of the UNSIGNED 64-bit
universe (signed bigints order-map via u = x + 2^63). A node at
level L with prefix p covers [p << L, (p+1) << L). The q-digest
invariant bounds the number of retained nodes at
O(log(U)/accuracy); compression pushes small counts upward
(node + sibling + parent < floor(accuracy * N / log2(U)) * log2(U)
... we use the classic n/k threshold with k = ceil(log2(U)/accuracy)
so the rank-error bound accuracy*N holds per the paper's Theorem 1).

Scale: a digest is a few-KB dict regardless of input count — the
same exchange-partials-not-rows design as operators/tdigest.py.
"""

from __future__ import annotations

import struct

LEVELS = 64  # universe 2^64 (signed bigint, offset-mapped)
_OFFSET = 1 << 63
_MASK = (1 << 64) - 1
DEFAULT_ACCURACY = 0.01  # QuantileDigestFunctions.DEFAULT_ACCURACY


class QDigest:
    __slots__ = ("counts", "total", "accuracy", "min", "max")

    def __init__(self, accuracy: float = DEFAULT_ACCURACY):
        if not 0 < accuracy < 1:
            raise ValueError(
                "Accuracy must be within (0, 1] exclusive of 0")
        # {(level, prefix): count}; leaf level 0, prefix = value
        self.counts: dict[tuple[int, int], float] = {}
        self.total = 0.0
        self.accuracy = accuracy
        # observed SIGNED min/max — airlift's QuantileDigest tracks
        # these and clamps getQuantile into [min, max], so the
        # reference surface never returns a value outside the input
        # range even after merges compress mass into high-level nodes
        self.min: int | None = None
        self.max: int | None = None


def _observe(d: QDigest, v: int) -> None:
    v = int(v)
    if d.min is None or v < d.min:
        d.min = v
    if d.max is None or v > d.max:
        d.max = v


def _u(x: int) -> int:
    return (int(x) + _OFFSET) & _MASK


def _s(u: int) -> int:
    return u - _OFFSET


def qdigest_build(values, weights=None,
                  accuracy: float = DEFAULT_ACCURACY) -> QDigest:
    """Digest of an iterable of signed 64-bit ints (weights default
    1, matching DEFAULT_WEIGHT)."""
    d = QDigest(accuracy)
    if weights is None:
        for v in values:
            k = (0, _u(v))
            d.counts[k] = d.counts.get(k, 0.0) + 1.0
            d.total += 1.0
            _observe(d, v)
    else:
        for v, w in zip(values, weights):
            w = float(w)
            if w < 0:
                raise ValueError("weight must not be negative")
            k = (0, _u(v))
            d.counts[k] = d.counts.get(k, 0.0) + w
            d.total += w
            _observe(d, v)
    _compress(d)
    return d


def _threshold(d: QDigest) -> float:
    # classic n/k with k = LEVELS / accuracy: retained-node error
    # sums over <= LEVELS ancestors to <= accuracy * N (paper Thm 1)
    return d.accuracy * d.total / LEVELS


def _compress(d: QDigest) -> None:
    t = _threshold(d)
    if t <= 0:
        return
    counts = d.counts
    for level in range(LEVELS):
        if not counts:
            break
        # nodes at this level, grouped with their sibling
        level_nodes = [k for k in counts if k[0] == level]
        for k in level_nodes:
            c = counts.get(k)
            if c is None:
                continue
            _lv, p = k
            sib = (level, p ^ 1)
            parent = (level + 1, p >> 1)
            csib = counts.get(sib, 0.0)
            cpar = counts.get(parent, 0.0)
            if c + csib + cpar < t:
                counts.pop(k, None)
                counts.pop(sib, None)
                counts[parent] = c + csib + cpar
    # root never compresses further


def qdigest_merge(*digests: QDigest) -> QDigest:
    """Nodewise count sum + recompress — the mergeable-accumulator
    law the reference's combine() relies on."""
    live = [d for d in digests if d is not None]
    if not live:
        raise ValueError("no digests to merge")
    out = QDigest(min(d.accuracy for d in live))
    for d in live:
        out.total += d.total
        if d.min is not None:
            _observe(out, d.min)
        if d.max is not None:
            _observe(out, d.max)
        for k, c in d.counts.items():
            out.counts[k] = out.counts.get(k, 0.0) + c
    _compress(out)
    return out


def _ordered_nodes(d: QDigest):
    """Nodes in increasing (upper_bound, level) order — the q-digest
    rank-traversal order (a node's values are all <= its upper
    bound)."""
    def upper(k):
        level, p = k
        return ((p + 1) << level) - 1

    return sorted(d.counts.items(), key=lambda kv: (upper(kv[0]),
                                                    kv[0][0]))


def value_at_quantile(d: QDigest, q: float) -> int:
    """QuantileDigestFunctions.valueAtQuantileBigint semantics:
    the node upper bound where cumulative count crosses q * N."""
    if not 0 <= q <= 1:
        raise ValueError(
            "Quantile should be within bounds [0, 1], was: %s" % q)
    if d.total == 0:
        return 0
    rank = q * d.total
    acc = 0.0
    last = None
    for k, c in _ordered_nodes(d):
        acc += c
        last = k
        if acc >= rank:
            break
    level, p = last
    v = _s(min(((p + 1) << level) - 1, _MASK))
    # airlift getQuantile clamps into the observed [min, max]
    if d.max is not None and v > d.max:
        v = d.max
    if d.min is not None and v < d.min:
        v = d.min
    return v


def values_at_quantiles(d: QDigest, qs) -> list[int]:
    return [value_at_quantile(d, q) for q in qs]


def quantile_at_value(d: QDigest, value: int) -> float | None:
    """Estimated rank of value / N (NULL outside the digest's range
    in the reference; None when the digest is empty)."""
    if d.total == 0:
        return None
    u = _u(value)
    acc = 0.0
    for (level, p), c in d.counts.items():
        lo = p << level
        hi = ((p + 1) << level) - 1
        if hi < u:
            acc += c
        elif lo <= u:
            # partial overlap: assume uniform within the node,
            # counting values strictly below
            span = hi - lo + 1
            acc += c * (u - lo) / span
    return acc / d.total


def qdigest_two_phase(df, keys, col, out="qdigest",
                      weight=None,
                      accuracy: float = DEFAULT_ACCURACY):
    """Mergeable two-phase qdigest aggregate over a DataFrame —
    QuantileDigestAggregationFunction.java's accumulator design:
    per-Arrow-batch PARTIAL digests below the exchange (only few-KB
    wire sketches cross it), nodewise merge above. NULL values are
    skipped; an all-null/empty group yields NULL (the reference's
    null accumulator). `weight` names an optional weight column
    (the qdigest_agg(x, w) signature, DEFAULT_WEIGHT 1 otherwise)."""
    import pandas as pd

    cols = [col] + ([weight] if weight else [])
    base = df.select(*keys, *cols)
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in base.select(*keys).schema.fields)
    out_schema = f"{key_schema}, {out} binary"

    def partial(batches):
        for pdf in batches:
            rows = []
            for kv, grp in pdf.groupby(list(keys), dropna=False,
                                       sort=False):
                if not isinstance(kv, tuple):
                    kv = (kv,)
                mask = grp[col].notna()
                vals = [int(v) for v in grp[col][mask]]
                if not vals:
                    rows.append((*kv, None))
                    continue
                ws = ([float(w) for w in grp[weight][mask]]
                      if weight else None)
                d = qdigest_build(vals, weights=ws, accuracy=accuracy)
                rows.append((*kv, qdigest_serialize(d)))
            yield pd.DataFrame(rows, columns=[*keys, out])

    partials = base.mapInPandas(partial, out_schema)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        head = pdf.iloc[:1]
        live = [qdigest_deserialize(bytes(b)) for b in pdf[out]
                if b is not None]
        m = qdigest_serialize(qdigest_merge(*live)) if live else None
        return pd.DataFrame(
            {**{k: [head[k].iloc[0]] for k in keys}, out: [m]})

    return partials.groupBy(*keys).applyInPandas(merge, out_schema)


def qdigest_serialize(d: QDigest) -> bytes:
    """Compact wire form for the exchange: header + (level, prefix,
    count) triples. THIS ENGINE's format — not airlift bytes (the
    documented out-of-scope interop)."""
    # header carries observed min/max (offset-mapped; (0, 0) pair
    # with the has-bounds flag 0 when the digest is empty)
    has = 1 if d.min is not None else 0
    umin = _u(d.min) if has else 0
    umax = _u(d.max) if has else 0
    out = [struct.pack("<ddIBQQ", d.accuracy, d.total, len(d.counts),
                       has, umin, umax)]
    for (level, p), c in sorted(d.counts.items()):
        out.append(struct.pack("<BQd", level, p, c))
    return b"".join(out)


def qdigest_deserialize(data: bytes) -> QDigest:
    accuracy, total, n, has, umin, umax = struct.unpack_from(
        "<ddIBQQ", data, 0)
    d = QDigest(accuracy)
    d.total = total
    if has:
        d.min = _s(umin)
        d.max = _s(umax)
    off = struct.calcsize("<ddIBQQ")
    for _ in range(n):
        level, p, c = struct.unpack_from("<BQd", data, off)
        off += 17
        d.counts[(level, p)] = c
    return d
