"""Python-side functions — the slow path, used only where no Spark
expression exists (SURVEY.md §2.9 gaps: word_stem, hmac_*, inverse
CDFs). All are Arrow-batched pandas UDFs, never row-at-a-time.

Scale note: each of these ships one Arrow batch per ~10k rows to a
Python worker. Fine for feature extraction; never put them in a join
key or hot filter — compute once, persist the column.
"""

from __future__ import annotations

import hashlib
import hmac as hmac_mod
import math

import pandas as pd

from presto_0_235_spark.functions import geo_wkt as _geo_wkt
from presto_0_235_spark.functions import xxhash as _xxhash
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    DecimalType,
    LongType,
    StringType,
)


@F.pandas_udf(BooleanType())
def json_invalid(texts: pd.Series) -> pd.Series:
    """True when the text is NOT a single complete JSON value under
    the reference's jackson strictness (JsonUtil.createJsonParser:
    scalars allowed, trailing content / partial documents / bare
    NaN/Infinity rejected) — Spark's parse_json accepts prefixes
    ('1 trailing') and '' that Presto's json_parse / is_json_scalar
    raise on, so the strict raise templates in scalar_templates.py
    guard with this (r13 leniency conversion)."""
    import json as _json

    def bad(s):
        if s is None:
            return None
        try:
            _json.loads(
                s,
                parse_constant=lambda _c: (_ for _ in ()).throw(
                    ValueError()),
            )
            return False
        except Exception:
            return True

    return pd.Series([bad(s) for s in texts], dtype="object")


@F.pandas_udf(StringType())
def word_stem(words: pd.Series) -> pd.Series:
    """English S-stemmer (suffix stripping), Presto word_stem's shape
    (reference WordStemFunction.java wraps a Porter stemmer; the
    container has no NLP lib, so this is the classic Harman s-stemmer
    — deterministic and documented)."""

    def stem(w):
        if w is None:
            return None
        if w.endswith("ies") and len(w) > 4:
            return w[:-3] + "y"
        if w.endswith("es") and len(w) > 3:
            return w[:-2]
        if w.endswith("s") and not w.endswith("ss") and len(w) > 3:
            return w[:-1]
        return w

    return words.map(stem)


@F.pandas_udf(StringType())
def hmac_sha256(data: pd.Series, key: pd.Series) -> pd.Series:
    """hmac_sha256(varbinary, key) -> hex (HmacFunctions.java).
    Accepts str (DataFrame-path convenience) or bytes (SQL front
    door passes real BINARY columns)."""

    def b(v):
        return v if isinstance(v, (bytes, bytearray)) else v.encode()

    return pd.Series(
        [
            None
            if d is None or k is None
            else hmac_mod.new(b(k), b(d), hashlib.sha256).hexdigest()
            for d, k in zip(data, key)
        ]
    )


def _inv_norm(p: float) -> float:
    """Acklam's rational approximation of the standard normal inverse
    CDF (|rel err| < 1.15e-9), polished with one Halley step against
    erfc to machine precision — public-domain algorithm; the
    reference's closed form agrees to ~1e-15
    (MathFunctions.java inverseNormalCdf)."""
    if p <= 0.0 or p >= 1.0 or math.isnan(p):
        return float("nan")
    x = _inv_norm_acklam(p)
    # Halley refinement: e = Phi(x) - p, u = e / phi(x)
    e = 0.5 * math.erfc(-x / math.sqrt(2.0)) - p
    u = e * math.sqrt(2.0 * math.pi) * math.exp(x * x / 2.0)
    return x - u / (1.0 + x * u / 2.0)


def _inv_norm_acklam(p: float) -> float:
    a = [-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00]
    b = [-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00]
    d = [7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00]
    p_low, p_high = 0.02425, 1 - 0.02425
    if p < p_low:
        q = math.sqrt(-2 * math.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q
                + c[5]) / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    if p > p_high:
        q = math.sqrt(-2 * math.log(1 - p))
        return -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q
                 + c[5]) / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r
            + a[5]) * q / (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r
                            + b[4]) * r + 1)


@F.pandas_udf(DoubleType())
def inverse_normal_cdf(mean: pd.Series, sd: pd.Series, p: pd.Series) -> pd.Series:
    """inverse_normal_cdf(mean, sd, p) (MathFunctions.java)."""
    return mean + sd * p.map(_inv_norm)


def _gamma_p(a: float, x: float) -> float:
    """Regularized lower incomplete gamma P(a, x): series expansion
    for x < a+1, Lentz continued fraction otherwise — the classic
    public-domain numerical treatment (|err| ~ 1e-14); the reference
    backs its gamma-family CDFs with the same special function
    (MathFunctions.java chiSquaredCdf/poissonCdf)."""
    if x < 0 or a <= 0 or math.isnan(x) or math.isnan(a):
        return float("nan")
    if x == 0.0:
        return 0.0
    lg = math.lgamma(a)
    if x < a + 1.0:
        ap, summ, delta = a, 1.0 / a, 1.0 / a
        for _ in range(500):
            ap += 1.0
            delta *= x / ap
            summ += delta
            if abs(delta) < abs(summ) * 1e-15:
                break
        return summ * math.exp(-x + a * math.log(x) - lg)
    # continued fraction for Q(a, x)
    tiny = 1e-300
    b, c, d = x + 1.0 - a, 1e300, 1.0 / (x + 1.0 - a + tiny)
    h = d
    for i in range(1, 500):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-15:
            break
    q = math.exp(-x + a * math.log(x) - lg) * h
    return 1.0 - q


def _beta_i(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b) via the symmetric Lentz
    continued fraction (public-domain algorithm; reference
    MathFunctions.java betaCdf/inverseBetaCdf use the same special
    function)."""
    if math.isnan(x) or a <= 0 or b <= 0:
        return float("nan")
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    # Use the symmetry relation so the fraction converges fast.
    # STRICT >: with >= the a==b, x==0.5 case (threshold exactly 0.5,
    # reached deterministically by _invert_monotone's first midpoint)
    # recurses on itself forever. Checked before computing ln_front so
    # the swapped branch doesn't pay the lgamma/log cost twice.
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - _beta_i(b, a, 1.0 - x)
    ln_front = (
        math.lgamma(a + b)
        - math.lgamma(a)
        - math.lgamma(b)
        + a * math.log(x)
        + b * math.log1p(-x)
    )
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    if abs(d) < tiny:
        d = tiny
    d = 1.0 / d
    h = d
    for m in range(1, 500):
        m2 = 2 * m
        aa = m * (b - m) * x / ((a + m2 - 1.0) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1.0))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-15:
            break
    return math.exp(ln_front) * h / a


def _invert_monotone(cdf, p: float, lo: float, hi: float) -> float:
    """Bisection inverse of a monotone CDF on [lo, hi], run to float
    exhaustion (the midpoint stops moving) — agrees with the
    reference's closed-form inverses to ~1e-15."""
    if math.isnan(p) or p < 0.0 or p > 1.0:
        return float("nan")
    for _ in range(200):
        mid = 0.5 * (lo + hi)
        if mid <= lo or mid >= hi:
            break
        if cdf(mid) < p:
            lo = mid
        else:
            hi = mid
    return 0.5 * (lo + hi)


@F.pandas_udf(DoubleType())
def beta_cdf(a: pd.Series, b: pd.Series, x: pd.Series) -> pd.Series:
    """beta_cdf(a, b, x) (MathFunctions.java betaCdf)."""
    return pd.Series(
        [_beta_i(float(ai), float(bi), float(xi))
         for ai, bi, xi in zip(a, b, x)]
    )


@F.pandas_udf(DoubleType())
def inverse_beta_cdf(a: pd.Series, b: pd.Series, p: pd.Series) -> pd.Series:
    """inverse_beta_cdf(a, b, p) (MathFunctions.java:636); the
    boundaries are exact (p=0 -> 0, p=1 -> 1, like the reference's
    inverseRegularizedIncompleteBetaFunction)."""

    def one(ai, bi, pi):
        ai, bi, pi = float(ai), float(bi), float(pi)
        if pi == 0.0:
            return 0.0
        if pi == 1.0:
            return 1.0
        return _invert_monotone(
            lambda x: _beta_i(ai, bi, x), pi, 0.0, 1.0
        )

    return pd.Series([one(*t) for t in zip(a, b, p)])


@F.pandas_udf(DoubleType())
def binomial_cdf(n: pd.Series, pr: pd.Series, k: pd.Series) -> pd.Series:
    """binomial_cdf(numberOfTrials, successProbability, value):
    P[X <= k] = I_{1-p}(n-k, k+1). FORWARD-PORT: not in the 0.235
    reference (its MathFunctions.java has only beta/normal CDFs);
    added in later Presto releases — tracked as an extension, not a
    reference-parity item (see COVERAGE.md)."""

    def one(ni, pi, ki):
        if math.isnan(ni) or math.isnan(ki) or math.isnan(pi):
            return None
        ni, ki = int(ni), int(ki)
        if ki < 0:
            return 0.0
        if ki >= ni:
            return 1.0
        return _beta_i(ni - ki, ki + 1, 1.0 - float(pi))

    return pd.Series([one(*t) for t in zip(n, pr, k)])


@F.pandas_udf(DoubleType())
def chi_squared_cdf(df: pd.Series, x: pd.Series) -> pd.Series:
    """chi_squared_cdf(df, x) = P(df/2, x/2). FORWARD-PORT: not in
    the 0.235 reference's MathFunctions.java (extension, see
    COVERAGE.md)."""
    return pd.Series(
        [_gamma_p(float(d) / 2.0, float(xi) / 2.0) for d, xi in zip(df, x)]
    )


@F.pandas_udf(DoubleType())
def inverse_chi_squared_cdf(df: pd.Series, p: pd.Series) -> pd.Series:
    """inverse_chi_squared_cdf(df, p). FORWARD-PORT extension (same
    note as chi_squared_cdf); the bisection inverse mirrors the
    reference's inverse-CDF convention (e.g. inverseBetaCdf,
    MathFunctions.java:636)."""
    return pd.Series(
        [
            _invert_monotone(
                lambda x, d=float(d): _gamma_p(d / 2.0, x / 2.0),
                float(pi), 0.0, max(1.0, float(d)) * 100.0,
            )
            for d, pi in zip(df, p)
        ]
    )


@F.pandas_udf(DoubleType())
def poisson_cdf(lam: pd.Series, k: pd.Series) -> pd.Series:
    """poisson_cdf(lambda, k) = Q(k+1, lambda) = 1 - P(k+1, lambda).
    FORWARD-PORT: not in the 0.235 reference's MathFunctions.java
    (extension, see COVERAGE.md)."""

    def one(li, ki):
        if math.isnan(ki) or math.isnan(li):
            return None
        ki = int(ki)
        if ki < 0:
            return 0.0
        return 1.0 - _gamma_p(ki + 1.0, float(li))

    return pd.Series([one(li, ki) for li, ki in zip(lam, k)])


@F.pandas_udf(LongType())
def inverse_poisson_cdf(lam: pd.Series, p: pd.Series) -> pd.Series:
    """inverse_poisson_cdf(lambda, p): smallest k with CDF(k) >= p
    (discrete quantile). FORWARD-PORT extension (same note as
    poisson_cdf)."""

    def cdf(k, li):
        return 1.0 - _gamma_p(k + 1.0, li)

    def one(li, pi):
        li, pi = float(li), float(pi)
        if math.isnan(li) or math.isnan(pi) or pi < 0 or pi >= 1.0:
            return None
        # exponential search for an upper bound, then binary search
        hi = 1
        while cdf(hi, li) < pi and hi < 1 << 40:
            hi *= 2
        lo = 0
        while lo < hi:
            mid = (lo + hi) // 2
            if cdf(mid, li) < pi:
                lo = mid + 1
            else:
                hi = mid
        return lo

    return pd.Series([one(li, pi) for li, pi in zip(lam, p)], dtype="object")


# IEEE754 codecs: the raw pandas UDFs cannot distinguish SQL NULL from
# NaN — Arrow hands nullable doubles to the worker as NaN (so a None
# guard inside the UDF is dead code), and a float-dtype result Series
# turns None back into NaN. NaN is a LEGITIMATE input here (its bit
# pattern is exactly what to_ieee754_64 must encode), so NULL-ness is
# preserved OUTSIDE the worker: the public functions wrap the raw UDF
# in a JVM-side null guard, matching the reference's @SqlNullable
# null-in-null-out contract (VarbinaryFunctions.java:199-243).


@F.pandas_udf(BinaryType())
def _to_ieee754_64_raw(x: pd.Series) -> pd.Series:
    import struct

    return pd.Series([struct.pack(">d", v) for v in x], dtype="object")


@F.pandas_udf(DoubleType())
def _from_ieee754_64_raw(b: pd.Series) -> pd.Series:
    import struct

    return pd.Series(
        [
            float("nan") if v is None else struct.unpack(">d", bytes(v))[0]
            for v in b
        ]
    )


@F.pandas_udf(BinaryType())
def _to_ieee754_32_raw(x: pd.Series) -> pd.Series:
    import struct

    return pd.Series([struct.pack(">f", v) for v in x], dtype="object")


@F.pandas_udf(FloatType())
def _from_ieee754_32_raw(b: pd.Series) -> pd.Series:
    import struct

    return pd.Series(
        [
            float("nan") if v is None else struct.unpack(">f", bytes(v))[0]
            for v in b
        ],
        dtype="float32",
    )


def _null_safe(raw_udf, col):
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNotNull(), raw_udf(c))


def to_ieee754_64(x) -> "F.Column":
    """to_ieee754_64(double) -> 8-byte big-endian IEEE754, NULL-in
    NULL-out. No Spark expression exposes the raw double bits, so the
    packing is an Arrow batch through struct.pack."""
    return _null_safe(_to_ieee754_64_raw, x)


def from_ieee754_64(b) -> "F.Column":
    """from_ieee754_64(varbinary) -> double (bit-exact inverse).

    NaN patterns are decoded JVM-side: Arrow's nan_as_null conversion
    makes it impossible for a pandas UDF to RETURN NaN (it arrives as
    NULL), so the wrapper tests the exponent/mantissa bits on the
    binary input and substitutes a literal NaN — all NaN payloads are
    one SQL double NaN, exactly the reference's behavior."""
    c = F.col(b) if isinstance(b, str) else b
    u = F.conv(F.hex(c), 16, -10).cast("bigint")
    exp_mask, mant_mask = 0x7FF0000000000000, 0x000FFFFFFFFFFFFF
    is_nan = (u.bitwiseAND(F.lit(exp_mask)) == exp_mask) & (
        u.bitwiseAND(F.lit(mant_mask)) != 0
    )
    return F.when(c.isNotNull() & is_nan, F.lit(float("nan"))).otherwise(
        _null_safe(_from_ieee754_64_raw, c)
    )


def to_ieee754_32(x) -> "F.Column":
    """to_ieee754_32(real) -> 4-byte big-endian IEEE754, NULL-in
    NULL-out."""
    return _null_safe(_to_ieee754_32_raw, x)


def from_ieee754_32(b) -> "F.Column":
    """from_ieee754_32(varbinary) -> real (bit-exact inverse); NaN
    decoded JVM-side (see from_ieee754_64)."""
    c = F.col(b) if isinstance(b, str) else b
    u = F.conv(F.hex(c), 16, 10).cast("bigint")
    is_nan = (u.bitwiseAND(F.lit(0x7F800000)) == 0x7F800000) & (
        u.bitwiseAND(F.lit(0x007FFFFF)) != 0
    )
    return F.when(
        c.isNotNull() & is_nan, F.lit(float("nan")).cast("float")
    ).otherwise(_null_safe(_from_ieee754_32_raw, c))


@F.pandas_udf(StringType())
def normalize_nfc(s: pd.Series) -> pd.Series:
    """normalize(string[, NFC]) — Unicode normalization
    (StringFunctions.java normalize). No Spark expression exists;
    unicodedata is stdlib."""
    import unicodedata

    return s.map(
        lambda v: None if v is None else unicodedata.normalize("NFC", v)
    )


@F.pandas_udf(StringType())
def hmac_any_hex(algo: pd.Series, data: pd.Series, key: pd.Series) -> pd.Series:
    """Algorithm-parameterized HMAC -> hex (HmacFunctions.java
    hmacMd5/hmacSha1/hmacSha512 — the SQL front door lowers each name
    to this with the algo as a string arg)."""

    def b(v):
        return v if isinstance(v, (bytes, bytearray)) else v.encode()

    return pd.Series(
        [
            None
            if d is None or k is None
            else hmac_mod.new(b(k), b(d), getattr(hashlib, a)).hexdigest()
            for a, d, k in zip(algo, data, key)
        ]
    )


@F.pandas_udf(DoubleType())
def normal_cdf(mean: pd.Series, sd: pd.Series, x: pd.Series) -> pd.Series:
    """normal_cdf(mean, sd, value) (MathFunctions.java normalCdf —
    0.5 * erfc(-(x-mean)/(sd*sqrt(2))), stdlib math.erfc)."""
    import math

    return pd.Series(
        [
            None
            if any(v is None for v in (m, s, v_))
            else 0.5 * math.erfc(-(v_ - m) / (s * math.sqrt(2.0)))
            for m, s, v_ in zip(mean, sd, x)
        ]
    )


@F.pandas_udf(StringType())
def ip_prefix_str(addr: pd.Series, bits: pd.Series) -> pd.Series:
    """ip_prefix(ip, prefix_bits) -> canonical 'net/bits'
    (IpPrefixFunctions.java; v4 and v6 via stdlib ipaddress). The
    engine renders IPADDRESS/IPPREFIX as canonical strings."""
    import ipaddress

    def one(a, b):
        if a is None or b is None:
            return None
        b = int(b)
        # IpPrefixFunctions.java subnet-size validation (r12 leniency
        # conversion; v4-mapped addresses count as IPv4 there)
        ip = ipaddress.ip_address(a)
        v4 = ip.version == 4 or (
            ip.version == 6 and ip.ipv4_mapped is not None)
        if v4 and not 0 <= b <= 32:
            raise ValueError("IPv4 subnet size must be in range [0, 32]")
        if not v4 and not 0 <= b <= 128:
            raise ValueError(
                "IPv6 subnet size must be in range [0, 128]")
        return ipaddress.ip_network(
            f"{a}/{b}", strict=False).with_prefixlen

    return pd.Series([one(a, b) for a, b in zip(addr, bits)])


@F.pandas_udf(StringType())
def ip_subnet_min_str(prefix: pd.Series) -> pd.Series:
    """ip_subnet_min(prefix) -> first address of the subnet."""
    import ipaddress

    return prefix.map(
        lambda p: None
        if p is None
        else str(ipaddress.ip_network(p, strict=False).network_address)
    )


@F.pandas_udf(StringType())
def ip_subnet_max_str(prefix: pd.Series) -> pd.Series:
    """ip_subnet_max(prefix) -> last address of the subnet."""
    import ipaddress

    return prefix.map(
        lambda p: None
        if p is None
        else str(ipaddress.ip_network(p, strict=False).broadcast_address)
    )


def _ip_canonical_str(a):
    """Presto's canonical IPADDRESS display form
    (IpAddressOperators.java castToVarchar): IPv6 compressed
    lowercase, v4-mapped addresses shown dotted."""
    import ipaddress

    addr = ipaddress.ip_address(a.strip())
    if isinstance(addr, ipaddress.IPv6Address) and addr.ipv4_mapped:
        addr = addr.ipv4_mapped
    return str(addr)


@F.pandas_udf(StringType())
def ip_canon_udf(addr: pd.Series) -> pd.Series:
    """CAST(varchar AS IPADDRESS) (IpAddressOperators.java
    castFromVarchar) — canonicalize; invalid input raises like the
    reference's INVALID_CAST_ARGUMENT."""
    def one(a):
        if a is None:
            return None
        try:
            return _ip_canonical_str(a)
        except ValueError:
            raise ValueError(
                f"Cannot cast value to IPADDRESS: {a}") from None

    return addr.map(one)


@F.pandas_udf(StringType())
def try_ip_canon_udf(addr: pd.Series) -> pd.Series:
    """TRY_CAST twin of ip_canon: invalid -> NULL."""
    def one(a):
        if a is None:
            return None
        try:
            return _ip_canonical_str(a)
        except ValueError:
            return None

    return addr.map(one)


@F.pandas_udf(StringType())
def ip_sort_key_udf(addr: pd.Series) -> pd.Series:
    """Order key for IPADDRESS comparisons: the hex of the 16-byte
    IPv6 form (IpAddressOperators between/comparison operators order
    by the address BYTES, not the display string — '::1' sorts
    before '1.2.3.5')."""
    import ipaddress

    def one(a):
        if a is None:
            return None
        addr = ipaddress.ip_address(a.strip())
        if isinstance(addr, ipaddress.IPv4Address):
            addr = ipaddress.IPv6Address(f"::ffff:{addr}")
        return addr.packed.hex()

    return addr.map(one)


@F.pandas_udf(BooleanType())
def is_subnet_of_udf(prefix: pd.Series, value: pd.Series) -> pd.Series:
    """is_subnet_of(prefix, ip) / is_subnet_of(prefix, prefix2)
    (IpPrefixFunctions.java) — the 2nd arg may be a bare address
    (treated as a /32 or /128 host net)."""
    import ipaddress

    def one(p, v):
        if p is None or v is None:
            return None
        net = ipaddress.ip_network(p, strict=False)
        inner = ipaddress.ip_network(
            v if "/" in v else f"{v}/{net.max_prefixlen}", strict=False
        )
        return inner.subnet_of(net)

    return pd.Series([one(p, v) for p, v in zip(prefix, value)])


@F.pandas_udf(StringType())
def unicode_normalize(form: pd.Series, s: pd.Series) -> pd.Series:
    """Form-parameterized normalize (StringFunctions.java normalize
    accepts NFC/NFD/NFKC/NFKD as a bare keyword — the SQL front door
    lowers it to a string argument here)."""
    import unicodedata

    return pd.Series(
        [
            None if v is None else unicodedata.normalize(f, v)
            for f, v in zip(form, s)
        ]
    )


@F.pandas_udf(DoubleType())
def top3_sum(v: pd.Series) -> float:
    """Custom grouped AGGREGATE (UDAF) — the reference's plugin-UDAF
    surface (@AggregationFunction, presto-tests CustomSum.java) as an
    Arrow grouped-agg pandas UDF: sum of the 3 largest values.
    Deterministic: values are sorted before the fixed-order 3-term
    sum, so the result is engine- and partitioning-independent."""
    s = v.sort_values(ascending=False).head(3).tolist()
    while len(s) < 3:
        s.append(0.0)
    return float((s[0] + s[1]) + s[2])


def make_split_words_udtf():
    """Custom TABLE function (UDTF) — beyond the reference (Presto
    0.235 has no UDTF surface beyond UNNEST, SURVEY.md §2.11): a
    Python UDTF usable in LATERAL position, exploding text into
    (word, pos) rows. Returned as a factory: importing this module
    builds no UDTF object, and the caller registers the one it gets."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, pos: int")
    class SplitWords:
        def eval(self, text: str):
            if text is None:
                return
            for i, w in enumerate(text.split()):
                yield (w, i + 1)

    return SplitWords


# ---- FNV-1/1a 64-bit (VarbinaryFunctions.java:350,366) --------------------
# The 32-bit variants are pure Column folds (functions/scalar.py);
# the 64-bit multiply needs mod-2^64 wraparound, which Spark's ANSI
# bigint arithmetic (rightly) refuses — so these two are Arrow batch
# UDFs like the other codec-shaped gaps.

_FNV64_OFFSET = 0xCBF29CE484222325
_FNV64_PRIME = 0x100000001B3
_U64 = (1 << 64) - 1


def _fnv64_bytes(data: bytes, a_variant: bool) -> int:
    h = _FNV64_OFFSET
    for byte in data:
        if a_variant:
            h = ((h ^ byte) * _FNV64_PRIME) & _U64
        else:
            h = ((h * _FNV64_PRIME) & _U64) ^ byte
    # Java long is signed
    return h - (1 << 64) if h >= (1 << 63) else h


@F.pandas_udf(LongType())
def fnv1_64(b: pd.Series) -> pd.Series:
    """fnv1_64(varbinary) -> bigint (VarbinaryFunctions.java:350)."""
    return pd.Series(
        [None if v is None else _fnv64_bytes(bytes(v), False) for v in b],
        dtype="object",
    )


@F.pandas_udf(LongType())
def fnv1a_64(b: pd.Series) -> pd.Series:
    """fnv1a_64(varbinary) -> bigint (VarbinaryFunctions.java:366)."""
    return pd.Series(
        [None if v is None else _fnv64_bytes(bytes(v), True) for v in b],
        dtype="object",
    )


def _fnv32_bytes(data: bytes, a_variant: bool) -> int:
    h = 0x811C9DC5
    for byte in data:
        if a_variant:
            h = ((h ^ byte) * 0x01000193) & 0xFFFFFFFF
        else:
            h = ((h * 0x01000193) & 0xFFFFFFFF) ^ byte
    # FnvHash.java returns int; the @ScalarFunction widens it to
    # BIGINT via Java sign extension (pinned by the reference's
    # "check for sign extension bug" vectors)
    return h - (1 << 32) if h >= (1 << 31) else h


@F.pandas_udf(LongType())
def fnv1_32(b: pd.Series) -> pd.Series:
    """fnv1_32(varbinary) -> bigint (VarbinaryFunctions.java:342);
    SQL-registered twin of the Column fold in functions/scalar.py."""
    return pd.Series(
        [None if v is None else _fnv32_bytes(bytes(v), False) for v in b],
        dtype="object",
    )


@F.pandas_udf(LongType())
def fnv1a_32(b: pd.Series) -> pd.Series:
    """fnv1a_32(varbinary) -> bigint (VarbinaryFunctions.java:358)."""
    return pd.Series(
        [None if v is None else _fnv32_bytes(bytes(v), True) for v in b],
        dtype="object",
    )


# ---- SQL-surface geometry (functions/geo_wkt.py engine; the
# DataFrame path keeps the Column-expression implementations in
# functions/geo.py) ---------------------------------------------------------


# 1-arg WKT-function table shared with scalar_templates' transform
# lambda rewrite (GEO_ONE_ARG_SQL_NAMES)
_GEO_ONE_ARG = {
    "st_geometryfromtext": ("geometry_from_text", StringType()),
    "st_astext": ("geometry_from_text", StringType()),
    "st_linefromtext": ("geometry_from_text", StringType()),
    "st_polygon": ("geometry_from_text", StringType()),
    "st_geometrytype": ("geometry_type", StringType()),
    "st_x": ("point_x", DoubleType()),
    "st_y": ("point_y", DoubleType()),
    "st_isclosed": ("is_closed", BooleanType()),
    "st_isempty": ("is_empty", BooleanType()),
    "st_isring": ("is_ring", BooleanType()),
    "st_length": ("length_sql", DoubleType()),
    "st_area": ("area_sql", DoubleType()),
    "st_centroid": ("centroid_sql", StringType()),
    "st_boundary": ("boundary", StringType()),
    "st_envelope": ("envelope_wkt", StringType()),
    "st_numinteriorring": ("num_interior_ring", LongType()),
    "st_exteriorring": ("exterior_ring", StringType()),
    "st_startpoint": ("start_point", StringType()),
    "st_endpoint": ("end_point", StringType()),
    "st_numpoints": ("num_points", LongType()),
    "bing_tile_qk": ("bing_tile_from_quadkey", StringType()),
    "bing_tile_quadkey": ("bing_tile_from_quadkey", StringType()),
    "bing_tile_polygon": ("bing_tile_polygon", StringType()),
    "to_spherical_geography": ("to_spherical_geography", StringType()),
    "to_geometry": ("to_geometry", StringType()),
}


GEO_ONE_ARG_SQL_NAMES = frozenset(_GEO_ONE_ARG) | {
    "st_numgeometries", "bing_tile_quadkey"}


def _geo1(fn):
    """1-arg WKT function -> Arrow-batched wrapper."""

    def batch(col: pd.Series) -> pd.Series:
        f = getattr(_geo_wkt, fn)
        return pd.Series(
            [None if v is None else f(v) for v in col], dtype="object"
        )

    return batch


def _make_geo_udfs():
    """(name, pandas_udf) pairs for _ensure_sql_udfs registration."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    one_arg = dict(_GEO_ONE_ARG)
    one_arg["st_numgeometries"] = ("num_geometries", IntegerType())
    udfs = [
        (name, F.pandas_udf(typ)(_geo1(fn)))
        for name, (fn, typ) in one_arg.items()
    ]

    # per-element array-mapped variants for the 1-arg functions:
    # `transform(arr, x -> ST_AsText(x))` rewrites to
    # `st_astext_each(arr)` in scalar_templates (Spark refuses Python
    # UDFs inside higher-order-function lambdas)
    from pyspark.sql.types import ArrayType

    def _geo1_each(fn, elem_type):
        def batch(col: pd.Series) -> pd.Series:
            f = getattr(_geo_wkt, fn)
            return pd.Series(
                [None if arr is None else
                 [None if v is None else f(v) for v in arr]
                 for arr in col],
                dtype="object",
            )

        return batch

    for name, (fn, typ) in list(one_arg.items()):
        udfs.append((f"{name}_each",
                     F.pandas_udf(ArrayType(typ))(_geo1_each(fn, typ))))

    # array-returning accessors + constructors
    # (GeoFunctions.java:149,171,552,686,795)
    def _geo1_arr(fn):
        def batch(col: pd.Series) -> pd.Series:
            f = getattr(_geo_wkt, fn)
            return pd.Series(
                [None if v is None else f(v) for v in col],
                dtype="object",
            )

        return batch

    udfs.append(("st_convexhull",
                 F.pandas_udf(StringType())(_geo1_arr("convex_hull"))))
    udfs.append(("st_coorddim",
                 F.pandas_udf(IntegerType())(_geo1_arr("coord_dim"))))
    udfs.append(("st_dimension",
                 F.pandas_udf(IntegerType())(_geo1_arr("dimension"))))

    @F.pandas_udf(BinaryType())
    def st_asbinary_geo(g: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None else _geo_wkt.as_binary(v) for v in g],
            dtype="object",
        )

    @F.pandas_udf(StringType())
    def st_geomfrombinary_geo(b: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None else _geo_wkt.geom_from_binary(v)
             for v in b],
            dtype="object",
        )

    @F.pandas_udf(StringType())
    def line_interpolate_point_geo(g: pd.Series, f: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None or x is None
             else _geo_wkt.line_interpolate_point(v, float(x))
             for v, x in zip(g, f)],
            dtype="object",
        )

    udfs += [
        ("st_asbinary", st_asbinary_geo),
        ("st_geomfrombinary", st_geomfrombinary_geo),
        ("line_interpolate_point", line_interpolate_point_geo),
    ]
    for name, fn in (("st_envelopeaspts", "envelope_as_pts"),
                     ("st_interiorrings", "interior_rings"),
                     ("st_geometries", "geometries"),
                     ("st_points", "points_of")):
        udfs.append((name,
                     F.pandas_udf(ArrayType(StringType()))(_geo1_arr(fn))))
    for name, fn in (("st_linestring", "line_string_from"),
                     ("st_multipoint", "multi_point_from")):
        udfs.append((name, F.pandas_udf(StringType())(_geo1_arr(fn))))

    def _geo_idx(fn):
        def batch(g: pd.Series, i: pd.Series) -> pd.Series:
            f = getattr(_geo_wkt, fn)
            return pd.Series(
                [None if v is None or k is None else f(v, int(k))
                 for v, k in zip(g, i)],
                dtype="object",
            )

        return batch

    for name, fn in (("st_geometryn", "geometry_n"),
                     ("st_pointn", "point_n"),
                     ("st_interiorringn", "interior_ring_n")):
        udfs.append((name, F.pandas_udf(StringType())(_geo_idx(fn))))

    @F.pandas_udf(ArrayType(StringType()))
    def geometry_to_bing_tiles_udf(g: pd.Series, z: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None or k is None
             else _geo_wkt.geometry_to_bing_tiles(v, int(k))
             for v, k in zip(g, z)],
            dtype="object",
        )

    udfs.append(("geometry_to_bing_tiles", geometry_to_bing_tiles_udf))

    @F.pandas_udf(ArrayType(StringType()))
    def bing_tiles_around_xy_udf(lat: pd.Series, lon: pd.Series,
                                 z: pd.Series) -> pd.Series:
        return pd.Series(
            [None if a is None or b is None or c is None
             else _geo_wkt.bing_tiles_around(float(a), float(b), int(c))
             for a, b, c in zip(lat, lon, z)],
            dtype="object",
        )

    @F.pandas_udf(ArrayType(StringType()))
    def bing_tiles_around_radius_udf(lat: pd.Series, lon: pd.Series,
                                     z: pd.Series,
                                     r: pd.Series) -> pd.Series:
        return pd.Series(
            [None if a is None or b is None or c is None or d is None
             else _geo_wkt.bing_tiles_around_radius(
                 float(a), float(b), int(c), float(d))
             for a, b, c, d in zip(lat, lon, z, r)],
            dtype="object",
        )

    udfs.append(("bing_tiles_around_xy", bing_tiles_around_xy_udf))
    udfs.append(("bing_tiles_around_radius", bing_tiles_around_radius_udf))

    @F.pandas_udf(StringType())
    def geometry_union_udf(arrs: pd.Series) -> pd.Series:
        return pd.Series(
            [None if a is None else _geo_ov.union_all(list(a))
             for a in arrs],
            dtype="object",
        )

    @F.pandas_udf(StringType())
    def convex_hull_of_udf(arrs: pd.Series) -> pd.Series:
        return pd.Series(
            [None if a is None else _geo_wkt.convex_hull_of(list(a))
             for a in arrs],
            dtype="object",
        )

    udfs.append(("geometry_union", geometry_union_udf))
    udfs.append(("convex_hull_of", convex_hull_of_udf))




    def env_bound(idx):
        def batch(col: pd.Series) -> pd.Series:
            def one(v):
                if v is None:
                    return None
                b = _geo_wkt.envelope_bounds(v)
                return None if b is None else b[idx]

            return pd.Series([one(v) for v in col], dtype="object")

        return batch

    for name, idx in (("st_xmin", 0), ("st_ymin", 1),
                      ("st_xmax", 2), ("st_ymax", 3)):
        udfs.append((name, F.pandas_udf(DoubleType())(env_bound(idx))))

    @F.pandas_udf(StringType())
    def st_point_geo(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if a is None or b is None else _geo_wkt.point_wkt(
                    float(a), float(b))
                for a, b in zip(x, y)
            ],
            dtype="object",
        )

    @F.pandas_udf(StringType())
    def expand_envelope_geo(g: pd.Series, d: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if a is None or b is None
                else _geo_wkt.expand_envelope(a, float(b))
                for a, b in zip(g, d)
            ],
            dtype="object",
        )

    @F.pandas_udf(DoubleType())
    def st_distance_geo(g1: pd.Series, g2: pd.Series) -> pd.Series:
        def one(a, b):
            if a is None or b is None:
                return None
            # SphericalGeography overload dispatch (the reference
            # overloads ST_Distance on the type; here on the value
            # mark, SphericalGeoFunctions.java:128)
            if a.startswith(_geo_wkt.SPH_MARK) \
                    or b.startswith(_geo_wkt.SPH_MARK):
                return _geo_wkt.spherical_distance(a, b)
            return _geo_wkt.distance(a, b)

        return pd.Series(
            [one(a, b) for a, b in zip(g1, g2)],
            dtype="object",
        )

    @F.pandas_udf(DoubleType())
    def line_locate_point_geo(g1: pd.Series, g2: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None
                if a is None or b is None
                else _geo_wkt.line_locate_point(a, b)
                for a, b in zip(g1, g2)
            ],
            dtype="object",
        )

    @F.pandas_udf(DoubleType())
    def great_circle_distance_geo(
        lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series
    ) -> pd.Series:
        return pd.Series(
            [
                None
                if any(v is None for v in t)
                else _geo_wkt.great_circle_distance(*map(float, t))
                for t in zip(lat1, lon1, lat2, lon2)
            ],
            dtype="object",
        )

    @F.pandas_udf(StringType())
    def bing_tile_xyz_geo(
        x: pd.Series, y: pd.Series, zoom: pd.Series
    ) -> pd.Series:
        return pd.Series(
            [
                None
                if any(v is None for v in t)
                else _geo_wkt.bing_tile_from_xyz(*map(int, t))
                for t in zip(x, y, zoom)
            ],
            dtype="object",
        )

    @F.pandas_udf(StringType())
    def bing_tile_at_geo(
        lat: pd.Series, lon: pd.Series, zoom: pd.Series
    ) -> pd.Series:
        return pd.Series(
            [
                None
                if any(v is None for v in t)
                else _geo_wkt.bing_tile_at(float(t[0]), float(t[1]), int(t[2]))
                for t in zip(lat, lon, zoom)
            ],
            dtype="object",
        )

    coords_type = StructType(
        [StructField("x", IntegerType()), StructField("y", IntegerType())]
    )

    @F.pandas_udf(coords_type)
    def bing_tile_coordinates_geo(qk: pd.Series) -> pd.DataFrame:
        xs, ys = [], []
        for v in qk:
            if v is None:
                xs.append(None)
                ys.append(None)
            else:
                x, y, _ = _geo_wkt.bing_tile_xyz(v)
                xs.append(x)
                ys.append(y)
        return pd.DataFrame({"x": xs, "y": ys})

    @F.pandas_udf(LongType())
    def bing_tile_zoom_level_geo(qk: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None else len(v) for v in qk], dtype="object"
        )

    # -- overlay ops + DE-9IM relate family (functions/geo_overlay.py;
    # GeoFunctions.java stIntersection/stDifference/
    # stSymmetricDifference/stUnion + the relational operators) ------
    from presto_0_235_spark.functions import geo_overlay as _geo_ov

    def _geo2(fn, out_dtype="object"):
        def batch(g1: pd.Series, g2: pd.Series) -> pd.Series:
            f = getattr(_geo_ov, fn)
            return pd.Series(
                [None if a is None or b is None else f(a, b)
                 for a, b in zip(g1, g2)],
                dtype=out_dtype,
            )

        return batch

    for name, fn in (("st_difference", "difference"),
                     ("st_symdifference", "symdifference"),
                     ("st_union", "union")):
        udfs.append((name, F.pandas_udf(StringType())(_geo2(fn))))
    for name, fn in (("st_contains", "st_contains"),
                     ("st_crosses", "st_crosses"),
                     ("st_disjoint", "st_disjoint"),
                     ("st_equals", "st_equals"),
                     ("st_intersects", "st_intersects"),
                     ("st_overlaps", "st_overlaps"),
                     ("st_touches", "st_touches"),
                     ("st_within", "st_within")):
        udfs.append((name, F.pandas_udf(BooleanType())(_geo2(fn))))

    @F.pandas_udf(BooleanType())
    def st_relate_geo(g1: pd.Series, g2: pd.Series,
                      pat: pd.Series) -> pd.Series:
        return pd.Series(
            [None if a is None or b is None or p is None
             else _geo_ov.relate(a, b, p)
             for a, b, p in zip(g1, g2, pat)],
            dtype="object",
        )

    @F.pandas_udf(StringType())
    def st_intersection_geo(g1: pd.Series, g2: pd.Series) -> pd.Series:
        mark = _geo_wkt.ENV_MARK

        def one(a, b):
            if a is None or b is None:
                return None
            # Envelope fast path (GeoFunctions.java:966-1006): two
            # envelope-typed values intersect as rectangles; a
            # POLYGON EMPTY result (not the general overlay's
            # MULTIPOLYGON EMPTY) when disjoint. The reference's
            # degenerate-point branch builds Point(xMin, xMax) —
            # with xMin == xMax in that branch, the y coordinate is
            # REPLACED by x (GeoFunctions.java:977, an upstream
            # slip invisible in its own tests because the pinned
            # corner has x == y). Replicated bug-for-bug (r13
            # ADVICE): we emit (xMin, xMin) too.
            if a.startswith(mark) and b.startswith(mark):
                ba = _geo_wkt.envelope_bounds(a)
                bb = _geo_wkt.envelope_bounds(b)
                if ba is None or bb is None:
                    return "POLYGON EMPTY"
                x0, y0 = max(ba[0], bb[0]), max(ba[1], bb[1])
                x1, y1 = min(ba[2], bb[2]), min(ba[3], bb[3])
                if x0 > x1 or y0 > y1:
                    return "POLYGON EMPTY"
                if x0 == x1 and y0 == y1:
                    return _geo_wkt.point_wkt(x0, x1)
                if x0 == x1 or y0 == y1:
                    return _geo_wkt.format_wkt(
                        ("LINESTRING", [(x0, y0), (x1, y1)]))
                return _geo_wkt.format_wkt(
                    ("POLYGON",
                     [[(x0, y0), (x0, y1), (x1, y1), (x1, y0),
                       (x0, y0)]]))
            # envelope-contains shortcut returns the other side as-is
            if a.startswith(mark):
                ba = _geo_wkt.envelope_bounds(a)
                bb = _geo_wkt.envelope_bounds(b)
                if ba and bb and (ba[0] <= bb[0] and ba[1] <= bb[1]
                                  and ba[2] >= bb[2] and ba[3] >= bb[3]):
                    return b
            if b.startswith(mark):
                ba = _geo_wkt.envelope_bounds(a)
                bb = _geo_wkt.envelope_bounds(b)
                if ba and bb and (bb[0] <= ba[0] and bb[1] <= ba[1]
                                  and bb[2] >= ba[2] and bb[3] >= ba[3]):
                    return a
            return _geo_ov.intersection(a, b)

        return pd.Series(
            [one(a, b) for a, b in zip(g1, g2)], dtype="object"
        )

    # validity / simplicity / simplify (JTS-modeled;
    # GeoFunctions.java:380-421,760-775)
    @F.pandas_udf(BooleanType())
    def st_isvalid_geo(g: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None else _geo_ov.is_valid(v) for v in g],
            dtype="object",
        )

    @F.pandas_udf(BooleanType())
    def st_issimple_geo(g: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None else _geo_ov.is_simple(v) for v in g],
            dtype="object",
        )

    @F.pandas_udf(StringType())
    def geometry_invalid_reason_geo(g: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None else _geo_ov.invalid_reason(v)
             for v in g],
            dtype="object",
        )

    @F.pandas_udf(StringType())
    def simplify_geometry_geo(g: pd.Series, tol: pd.Series) -> pd.Series:
        import math as _m

        def one(v, t):
            if v is None or t is None:
                return None
            t = float(t)
            if _m.isnan(t):
                raise ValueError("distanceTolerance is NaN")
            if t < 0:
                raise ValueError("distanceTolerance is negative")
            if t == 0:
                return v
            return _geo_ov.simplify(v, t)

        return pd.Series(
            [one(v, t) for v, t in zip(g, tol)], dtype="object"
        )

    @F.pandas_udf(StringType())
    def st_buffer_geo(g: pd.Series, d: pd.Series) -> pd.Series:
        import math as _m

        def one(v, t):
            if v is None or t is None:
                return None
            t = float(t)
            # GeoFunctions.java:277-296 argument handling order
            if _m.isnan(t):
                raise ValueError("distance is NaN")
            if t < 0:
                raise ValueError("distance is negative")
            if t == 0:
                return v
            if _geo_wkt.is_empty(v):
                return None
            if _m.isinf(t):
                return "POLYGON EMPTY"
            return _geo_ov.buffer_wkt(v, t)

        return pd.Series(
            [one(v, t) for v, t in zip(g, d)], dtype="object"
        )

    udfs += [
        ("st_buffer", st_buffer_geo),
        ("st_isvalid", st_isvalid_geo),
        ("st_issimple", st_issimple_geo),
        ("geometry_invalid_reason", geometry_invalid_reason_geo),
        ("simplify_geometry", simplify_geometry_geo),
        ("st_relate", st_relate_geo),
        ("st_intersection", st_intersection_geo),
        ("expand_envelope", expand_envelope_geo),
        ("st_point", st_point_geo),
        ("st_distance", st_distance_geo),
        ("line_locate_point", line_locate_point_geo),
        ("great_circle_distance", great_circle_distance_geo),
        ("bing_tile_xyz", bing_tile_xyz_geo),
        ("bing_tile_at", bing_tile_at_geo),
        ("bing_tile_coordinates", bing_tile_coordinates_geo),
        ("bing_tile_zoom_level", bing_tile_zoom_level_geo),
    ]
    return udfs


@F.pandas_udf(LongType())
def width_bucket_bins(operand: pd.Series, bins: pd.Series) -> pd.Series:
    """width_bucket(operand, bins) — EXACT replica of the reference's
    validating binary search (MathFunctions.java widthBucket over
    array(double)): empty bins and NaN operand raise up front;
    unsorted bins and non-finite bins raise only when the BISECTION
    PATH encounters them (TestMathFunctions.java:1289 pins an
    unsorted array the search never notices)."""
    import math as _m

    def one(x, bs):
        if x is None or bs is None:
            return None
        x = float(x)
        bs = list(bs)
        if len(bs) == 0:
            raise ValueError("Bins cannot be an empty array")
        if _m.isnan(x):
            raise ValueError("Operand cannot be NaN")
        lower, upper = 0, len(bs)
        while lower < upper:
            if bs[lower] > bs[upper - 1]:
                raise ValueError(
                    "Bin values are not sorted in ascending order")
            index = (lower + upper) // 2
            b = bs[index]
            if not _m.isfinite(b):
                raise ValueError(
                    "Bin value must be finite, got %s"
                    % ("Infinity" if b > 0 else
                       "-Infinity" if b < 0 else "NaN"))
            if x < b:
                upper = index
            else:
                lower = index + 1
        return lower

    return pd.Series(
        [one(x, bs) for x, bs in zip(operand, bins)], dtype="object"
    )


@F.pandas_udf(StringType())
def from_utf8_replace(b: pd.Series, repl: pd.Series) -> pd.Series:
    """from_utf8(varbinary[, replacement]) with Presto's REPLACE
    decoding (StringFunctions.java fromUtf8): each malformed UTF-8
    run becomes the replacement (default U+FFFD; '' deletes; more
    than one char raises like the reference). Python's
    UnicodeDecodeError start/end step over the malformed run the same
    way Java's CharsetDecoder does."""

    def dec(data, rep):
        if data is None or rep is None:
            return None
        if len(rep) > 1:
            raise ValueError(
                "replaceCharacter must empty or a single character"
            )
        data = bytes(data)
        out = []
        i = 0
        while i <= len(data):
            try:
                out.append(data[i:].decode("utf-8"))
                break
            except UnicodeDecodeError as e:
                out.append(data[i : i + e.start].decode("utf-8"))
                out.append(rep)
                i += e.end
        return "".join(out)

    return pd.Series(
        [dec(d, r) for d, r in zip(b, repl)], dtype="object"
    )


@F.pandas_udf(StringType())
def spooky_hash_v2_32_hex(b: pd.Series) -> pd.Series:
    """spooky_hash_v2_32(varbinary) (VarbinaryFunctions.java:306) —
    hex-returning so the SQL template restores VARBINARY via unhex;
    algorithm in functions/spookyhash.py (public-domain V2)."""
    from presto_0_235_spark.functions import spookyhash as S

    return pd.Series(
        [
            None if v is None else S.spooky_hash_v2_32_bytes(bytes(v)).hex()
            for v in b
        ],
        dtype="object",
    )


@F.pandas_udf(StringType())
def spooky_hash_v2_64_hex(b: pd.Series) -> pd.Series:
    """spooky_hash_v2_64(varbinary) (VarbinaryFunctions.java:316)."""
    from presto_0_235_spark.functions import spookyhash as S

    return pd.Series(
        [
            None if v is None else S.spooky_hash_v2_64_bytes(bytes(v)).hex()
            for v in b
        ],
        dtype="object",
    )


@F.pandas_udf(StringType())
def xxhash64_hex(b: pd.Series) -> pd.Series:
    """xxhash64(varbinary) -> varbinary (VarbinaryFunctions.java:296:
    XxHash64.hash seed 0, 8 bytes big-endian). Spark's built-in
    xxhash64 is seed-42-over-typed-rows — different function; this
    one is the standard-spec digest (functions/xxhash.py, validated
    against the public XXH64 vectors)."""
    from presto_0_235_spark.functions.xxhash import xxh64

    return pd.Series(
        [
            None
            if v is None
            else xxh64(bytes(v), 0).to_bytes(8, "big").hex()
            for v in b
        ],
        dtype="object",
    )


def _make_presto_decimal_arith(op: str):
    """Exact 128-bit-class decimal arithmetic for the sites Spark's
    own decimal derivation cannot reproduce provably
    (DecimalOperators.java long-decimal paths): operands arrive as
    CAST(x AS STRING) fixed-point strings, the exact value computes
    in Python decimal (prec 200 — wide enough for any 38x38-digit
    op), divide rounds HALF_UP at the result scale like Java
    BigDecimal, and a result whose unscaled value exceeds 10^rp
    raises the reference's "Decimal overflow". The SQL emission
    CASTs the returned string back to DECIMAL(rp, rs). Arrow-batched;
    only sites where the pure-Spark rewrite declines
    (frontend._decimal_arith_emit) reach this path."""

    @F.pandas_udf(StringType())
    def fn(a: pd.Series, b: pd.Series, rp: pd.Series,
           rs: pd.Series) -> pd.Series:
        from decimal import ROUND_HALF_UP, Decimal, localcontext

        out = []
        with localcontext() as ctx:
            ctx.prec = 200
            for x, y, p_, s_ in zip(a, b, rp, rs):
                if x is None or y is None:
                    out.append(None)
                    continue
                xa, yb = Decimal(str(x)), Decimal(str(y))
                s_ = int(s_)
                if op == "/":
                    if yb == 0:
                        raise ArithmeticError("Division by zero")
                    v = (xa / yb).quantize(
                        Decimal(1).scaleb(-s_),
                        rounding=ROUND_HALF_UP)
                elif op == "%":
                    if yb == 0:
                        raise ArithmeticError("Division by zero")
                    v = (xa % yb).quantize(Decimal(1).scaleb(-s_))
                elif op == "*":
                    v = (xa * yb).quantize(Decimal(1).scaleb(-s_))
                elif op == "+":
                    v = (xa + yb).quantize(Decimal(1).scaleb(-s_))
                else:
                    v = (xa - yb).quantize(Decimal(1).scaleb(-s_))
                if abs(int(v.scaleb(s_))) >= 10 ** int(p_):
                    raise ArithmeticError("Decimal overflow")
                out.append(str(v))
        return pd.Series(out, dtype="object")

    return fn


presto_decimal_div = _make_presto_decimal_arith("/")
presto_decimal_mod = _make_presto_decimal_arith("%")
presto_decimal_mul = _make_presto_decimal_arith("*")
presto_decimal_add = _make_presto_decimal_arith("+")
presto_decimal_sub = _make_presto_decimal_arith("-")


@F.pandas_udf(DecimalType(20, 0))
def presto_checksum_term(val: pd.Series, typ: pd.Series) -> pd.Series:
    """Per-row CHECKSUM contribution
    (ChecksumAggregationFunction.java:107-115): PRIME64 for null rows,
    type.hash(value) * PRIME64 otherwise, mod 2^64, as DECIMAL(20,0)
    so the summing aggregate is exact and wraparound is applied once
    at the end (the SQL template's % 2^64). ``val`` is the row
    rendered via CAST(x AS STRING) (hex() for binary) — strings
    round-trip full-range BIGINT exactly where an Arrow float64
    batch would not. See functions/xxhash.py for the hash family."""
    from decimal import Decimal

    return pd.Series(
        [
            Decimal(_xxhash.checksum_term(v, t))
            for v, t in zip(val, typ)
        ]
    )


# --- qdigest surface (QuantileDigestFunctions.java; r14) -------------------
# The digest VALUE type is this engine's wire form (operators/
# qdigest.py — the semantic q-digest; airlift byte interop documented
# out of scope). value_at_quantile/values_at_quantiles/
# quantile_at_value mirror the reference's scalar signatures.


@F.pandas_udf(LongType())
def value_at_quantile_qd(digest: pd.Series, q: pd.Series) -> pd.Series:
    from presto_0_235_spark.operators import qdigest as _qd

    out = []
    for d, quant in zip(digest, q):
        if d is None or quant is None:
            out.append(None)
            continue
        out.append(_qd.value_at_quantile(
            _qd.qdigest_deserialize(bytes(d)), float(quant)))
    return pd.Series(out, dtype="object")


@F.pandas_udf(ArrayType(LongType()))
def values_at_quantiles_qd(digest: pd.Series, qs: pd.Series) -> pd.Series:
    from presto_0_235_spark.operators import qdigest as _qd

    out = []
    for d, quants in zip(digest, qs):
        if d is None or quants is None:
            out.append(None)
            continue
        dd = _qd.qdigest_deserialize(bytes(d))
        out.append([_qd.value_at_quantile(dd, float(q))
                    for q in quants])
    return pd.Series(out, dtype="object")


@F.pandas_udf(DoubleType())
def quantile_at_value_qd(digest: pd.Series, v: pd.Series) -> pd.Series:
    from presto_0_235_spark.operators import qdigest as _qd

    out = []
    for d, val in zip(digest, v):
        if d is None or val is None:
            out.append(None)
            continue
        out.append(_qd.quantile_at_value(
            _qd.qdigest_deserialize(bytes(d)), int(val)))
    return pd.Series(out, dtype="object")


@F.pandas_udf(BinaryType())
def qdigest_agg_udaf(v: pd.Series) -> bytes:
    """qdigest_agg(bigint) as a grouped-agg pandas UDAF — the
    CONVENIENCE path for ad-hoc SQL (rows ship to the reducer); the
    scale path is the mergeable two-phase route in
    sql/frontend._route_geo_aggregate / operators/qdigest.
    qdigest_two_phase, exactly the geometry-aggregate split."""
    from presto_0_235_spark.operators import qdigest as _qd

    vals = [int(x) for x in v.dropna()]
    if not vals:
        return None
    return _qd.qdigest_serialize(_qd.qdigest_build(vals))
