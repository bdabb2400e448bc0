"""Pure-Python planar WKT engine backing the SQL-surface ST_* family.

The engine's DataFrame path implements geometry as Spark Column
expressions (functions/geo.py — oracle-green, used by the
fn_geospatial_* registry queries). The SQL front door needs callable
functions, and Spark 4's classic API cannot serialize a Column back
to SQL text, so this module re-expresses the same planar semantics as
per-value Python over canonical WKT strings, exposed through
Arrow-batched pandas UDFs (functions/udfs.py pattern; geometry values
are small strings, the scalar functions are not hot-path operators —
the DataFrame path remains the bulk-data route).

Parity sources (cited per function): the reference's
presto-geospatial GeoFunctions.java (ESRI-backed planar ops),
BingTileUtils.java (public Bing maps tile system math), and
presto-geospatial-toolkit SphericalGeographyUtils.java:82-108
(Vincenty great-circle, EARTH_RADIUS_KM = 6371.01). r12 completed the
family: overlay boolean ops + DE-9IM live in functions/geo_overlay.py,
this module adds geometry_to_bing_tiles, the collection accessors,
and the SphericalGeography measures (SPH:-marked values,
SphericalGeoFunctions.java parity).

Geometry model: ``(tag, payload)`` where tag is one of POINT /
MULTIPOINT / LINESTRING / MULTILINESTRING / POLYGON / MULTIPOLYGON /
GEOMETRYCOLLECTION and payload is None (EMPTY), a point, a point
list, a ring list, etc. Canonical text follows ESRI's AsText: integer
coordinates print without a decimal point ("POINT (1 4)"),
multipoints print with per-point parens ("MULTIPOINT ((1 2), (3 4))").
"""

from __future__ import annotations

import math
import re

EARTH_RADIUS_KM = 6371.01  # SphericalGeographyUtils.java:36
MIN_LATITUDE = -85.05112878  # BingTileUtils.java (Bing tile system)
MAX_LATITUDE = 85.05112878


# --------------------------------------------------------------------------
# WKT parse / format
# --------------------------------------------------------------------------

_TAGS = (
    "GEOMETRYCOLLECTION",
    "MULTILINESTRING",
    "MULTIPOLYGON",
    "MULTIPOINT",
    "LINESTRING",
    "POLYGON",
    "POINT",
)


def _parse_points(text: str) -> list[tuple[float, float]]:
    pts = []
    for part in text.split(","):
        nums = part.replace("(", " ").replace(")", " ").split()
        if len(nums) != 2:
            raise ValueError(f"Invalid WKT coordinates: {part!r}")
        pts.append((float(nums[0]), float(nums[1])))
    return pts


def _split_groups(text: str) -> list[str]:
    """Split 'a, b), (c, d' style top-level paren groups."""
    groups, depth, start = [], 0, None
    for i, ch in enumerate(text):
        if ch == "(":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                groups.append(text[start:i])
    if not groups:
        raise ValueError(f"Invalid WKT group: {text!r}")
    return groups


SPH_MARK = "SPH:"  # value-level analog of the SPHERICAL_GEOGRAPHY type
ENV_MARK = "ENV:"  # value-level analog of the reference's ENVELOPE
# serialization type (EsriGeometrySerde): ST_Envelope/expand_envelope
# produce it, every consumer strips it here, and ST_Intersection
# branches on it for the envelope fast path
# (GeoFunctions.java:960-1006).


def parse_wkt(s: str):
    """WKT text -> (tag, payload); raises ValueError on malformed
    input (the reference raises INVALID_FUNCTION_ARGUMENT)."""
    t = s.strip()
    if t.startswith(ENV_MARK):
        t = t[len(ENV_MARK):].strip()
    if t.startswith(SPH_MARK):
        t = t[len(SPH_MARK):].strip()
    upper = t.upper()
    for tag in _TAGS:
        if upper.startswith(tag):
            body = t[len(tag):].strip()
            break
    else:
        raise ValueError(f"Invalid WKT: {s!r}")
    if body.upper() == "EMPTY":
        return (tag, None)
    if not (body.startswith("(") and body.endswith(")")):
        raise ValueError(f"Invalid WKT: {s!r}")
    inner = body[1:-1].strip()
    if tag == "POINT":
        pts = _parse_points(inner)
        if len(pts) != 1:
            raise ValueError(f"Invalid WKT: {s!r}")
        return (tag, pts[0])
    if tag in ("MULTIPOINT", "LINESTRING"):
        return (tag, _parse_points(inner))
    if tag == "MULTILINESTRING":
        # "MULTILINESTRING (EMPTY)" carries an empty path (the
        # reference's spherical ST_Length pins feed one)
        if inner.upper() == "EMPTY":
            return (tag, [[]])
        return (tag, [_parse_points(g) for g in _split_groups(inner)])
    if tag == "POLYGON":
        rings = [_parse_points(g) for g in _split_groups(inner)]
        return (tag, _normalize_rings(rings))
    if tag == "MULTIPOLYGON":
        # split top-level polygon groups, each a ring list
        polys, depth, start = [], 0, None
        for i, ch in enumerate(body):
            if ch == "(":
                depth += 1
                if depth == 2 and start is None:
                    start = i
            elif ch == ")":
                if depth == 2 and start is not None:
                    pass
                depth -= 1
            if depth == 1 and start is not None and ch == ")":
                polys.append(body[start : i + 1])
                start = None
        if not polys:
            raise ValueError(f"Invalid WKT: {s!r}")
        return (tag, [
            _normalize_rings([_parse_points(g)
                              for g in _split_groups(p[1:-1])])
            for p in polys
        ])
    # GEOMETRYCOLLECTION: split on top-level tag boundaries
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(inner):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(inner[start:i])
            start = i + 1
    parts.append(inner[start:])
    return (tag, [parse_wkt(p) for p in parts])


def _ring_signed_area2(ring) -> float:
    return sum(x0 * y1 - x1 * y0
               for (x0, y0), (x1, y1) in _segments(ring))


def _normalize_rings(rings):
    """ESRI canonical ring orientation: exterior CLOCKWISE (negative
    shoelace in y-up coordinates), holes counterclockwise — the
    reference's AsText round trips pin exactly this (e.g. input ring
    1 1, 4 1, 1 4 comes back 1 1, 1 4, 4 1). Reversal keeps the first
    point first (closed rings)."""

    def orient(ring, want_cw: bool):
        a2 = _ring_signed_area2(ring)
        cw = a2 < 0
        if a2 == 0 or cw == want_cw:
            return ring
        # a closed ring reversed whole keeps its start point
        return ring[::-1]

    return [orient(r, want_cw=(i == 0)) for i, r in enumerate(rings)]


def _fmt_num(v: float) -> str:
    if v == int(v) and abs(v) < 1e16:
        return str(int(v))
    return repr(float(v))


def _fmt_pt(p) -> str:
    return f"{_fmt_num(p[0])} {_fmt_num(p[1])}"


def format_wkt(g) -> str:
    tag, payload = g
    if payload is None or payload == []:
        return f"{tag} EMPTY"
    if tag == "POINT":
        return f"POINT ({_fmt_pt(payload)})"
    if tag == "MULTIPOINT":
        return "MULTIPOINT ((" + "), (".join(_fmt_pt(p) for p in payload) + "))"
    if tag == "LINESTRING":
        return "LINESTRING (" + ", ".join(_fmt_pt(p) for p in payload) + ")"
    if tag == "MULTILINESTRING":
        # an empty path prints EMPTY without parens
        # ("MULTILINESTRING (EMPTY)", the spherical ST_Length pin)
        parts = [
            "EMPTY" if not line
            else "(" + ", ".join(_fmt_pt(p) for p in line) + ")"
            for line in payload
        ]
        return "MULTILINESTRING (" + ", ".join(parts) + ")"
    if tag == "POLYGON":
        return "POLYGON ((" + "), (".join(
            ", ".join(_fmt_pt(p) for p in ring) for ring in payload) + "))"
    if tag == "MULTIPOLYGON":
        return "MULTIPOLYGON (" + ", ".join(
            "((" + "), (".join(", ".join(_fmt_pt(p) for p in ring)
                               for ring in poly) + "))"
            for poly in payload) + ")"
    return "GEOMETRYCOLLECTION (" + ", ".join(
        format_wkt(sub) for sub in payload) + ")"


def geometry_from_text(s: str) -> str:
    """ST_GeometryFromText / ST_AsText canonical echo
    (GeoFunctions.java stGeometryFromText/stAsText)."""
    return format_wkt(parse_wkt(s))


def point_wkt(x: float, y: float) -> str:
    if math.isnan(x) or math.isnan(y):
        raise ValueError("ST_Point: coordinates must not be NaN")
    return format_wkt(("POINT", (x, y)))


# --------------------------------------------------------------------------
# decomposition helpers
# --------------------------------------------------------------------------


def _all_points(g):
    tag, payload = g
    if payload is None:
        return
    if tag == "POINT":
        yield payload
    elif tag in ("MULTIPOINT", "LINESTRING"):
        yield from payload
    elif tag in ("MULTILINESTRING", "POLYGON"):
        for part in payload:
            yield from part
    elif tag == "MULTIPOLYGON":
        for poly in payload:
            for ring in poly:
                yield from ring
    else:
        for sub in payload:
            yield from _all_points(sub)


def _segments(pts):
    for a, b in zip(pts, pts[1:]):
        yield (a, b)


def _decompose(g):
    """-> (points, segments, polygon_ring_lists) for distance work."""
    tag, payload = g
    pts, segs, polys = [], [], []
    if payload is None:
        return pts, segs, polys
    if tag == "POINT":
        pts.append(payload)
    elif tag == "MULTIPOINT":
        pts.extend(payload)
    elif tag == "LINESTRING":
        segs.extend(_segments(payload))
    elif tag == "MULTILINESTRING":
        for line in payload:
            segs.extend(_segments(line))
    elif tag == "POLYGON":
        polys.append(payload)
    elif tag == "MULTIPOLYGON":
        polys.extend(payload)
    else:
        for sub in payload:
            p2, s2, g2 = _decompose(sub)
            pts += p2
            segs += s2
            polys += g2
    return pts, segs, polys


# --------------------------------------------------------------------------
# measures / predicates
# --------------------------------------------------------------------------


def envelope_bounds(wkt: str):
    pts = list(_all_points(parse_wkt(wkt)))
    if not pts:
        return None
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    return (min(xs), min(ys), max(xs), max(ys))


def envelope_wkt(wkt: str) -> str:
    b = envelope_bounds(wkt)
    if b is None:
        return ENV_MARK + "POLYGON EMPTY"
    x0, y0, x1, y1 = b
    ring = [(x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)]
    return ENV_MARK + format_wkt(("POLYGON", [ring]))


def expand_envelope(wkt: str, distance: float) -> str:
    """GeoFunctions.java:899-918 expandEnvelope: envelope grown by
    `distance` on every side; NaN/negative distances raise, infinite
    bounds serialize as the empty polygon (the reference's pins at
    TestGeoFunctions.java:739-751)."""
    if math.isnan(distance):
        raise ValueError("expand_envelope: distance is NaN")
    if distance < 0:
        raise ValueError(
            f"expand_envelope: distance {distance} is negative"
        )
    b = envelope_bounds(wkt)
    if b is None or math.isinf(distance):
        return ENV_MARK + "POLYGON EMPTY"
    x0, y0, x1, y1 = (b[0] - distance, b[1] - distance,
                      b[2] + distance, b[3] + distance)
    ring = [(x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)]
    return ENV_MARK + format_wkt(("POLYGON", [ring]))


_TYPE_NAMES = {
    "POINT": "ST_Point",
    "MULTIPOINT": "ST_MultiPoint",
    "LINESTRING": "ST_LineString",
    "MULTILINESTRING": "ST_MultiLineString",
    "POLYGON": "ST_Polygon",
    "MULTIPOLYGON": "ST_MultiPolygon",
    "GEOMETRYCOLLECTION": "ST_GeomCollection",
}


def geometry_type(wkt: str) -> str:
    """GeoFunctions.java stGeometryType ('ST_Point' style names)."""
    return _TYPE_NAMES[parse_wkt(wkt)[0]]


def point_x(wkt: str):
    tag, payload = parse_wkt(wkt)
    if tag != "POINT":
        raise ValueError("ST_X requires a Point")
    return None if payload is None else payload[0]


def point_y(wkt: str):
    tag, payload = parse_wkt(wkt)
    if tag != "POINT":
        raise ValueError("ST_Y requires a Point")
    return None if payload is None else payload[1]


def is_empty(wkt: str) -> bool:
    g = parse_wkt(wkt)
    return next(_all_points(g), None) is None


def is_closed(wkt: str) -> bool:
    tag, payload = parse_wkt(wkt)
    if tag == "LINESTRING":
        lines = [payload] if payload else []
    elif tag == "MULTILINESTRING":
        lines = payload or []
    else:
        raise ValueError(
            "ST_IsClosed only applies to LINE_STRING or MULTI_LINE_STRING"
        )
    return all(line[0] == line[-1] for line in lines) and bool(lines)


def _segs_cross(a, b, c, d) -> bool:
    """Proper interior crossing of segments ab and cd."""

    def orient(p, q, r):
        v = (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])
        return 0 if v == 0 else (1 if v > 0 else -1)

    o1, o2 = orient(a, b, c), orient(a, b, d)
    o3, o4 = orient(c, d, a), orient(c, d, b)
    return o1 != o2 and o3 != o4 and 0 not in (o1, o2, o3, o4)


def is_ring(wkt: str) -> bool:
    """Closed AND simple (GeoFunctions.java stIsRing)."""
    tag, payload = parse_wkt(wkt)
    if tag != "LINESTRING":
        raise ValueError("ST_IsRing only applies to LINE_STRING")
    if not payload or payload[0] != payload[-1]:
        return False
    segs = list(_segments(payload))
    for i in range(len(segs)):
        for j in range(i + 2, len(segs)):
            if i == 0 and j == len(segs) - 1:
                continue  # the closing segment legitimately meets seg 0
            if _segs_cross(*segs[i], *segs[j]):
                return False
    return True


def length(wkt: str) -> float:
    tag, payload = parse_wkt(wkt)
    if tag == "LINESTRING":
        lines = [payload] if payload else []
    elif tag == "MULTILINESTRING":
        lines = payload or []
    else:
        raise ValueError(
            "ST_Length only applies to LINE_STRING or MULTI_LINE_STRING"
        )
    return sum(
        math.dist(a, b) for line in lines for a, b in _segments(line)
    )


def num_interior_ring(wkt: str):
    tag, payload = parse_wkt(wkt)
    if tag != "POLYGON":
        raise ValueError("ST_NumInteriorRing only applies to POLYGON")
    return None if payload is None else len(payload) - 1


def exterior_ring(wkt: str):
    tag, payload = parse_wkt(wkt)
    if tag != "POLYGON":
        raise ValueError("ST_ExteriorRing only applies to POLYGON")
    if payload is None:
        return None
    return format_wkt(("LINESTRING", payload[0]))


def start_point(wkt: str):
    tag, payload = parse_wkt(wkt)
    if tag != "LINESTRING":
        raise ValueError("ST_StartPoint only applies to LINE_STRING")
    return None if not payload else format_wkt(("POINT", payload[0]))


def end_point(wkt: str):
    tag, payload = parse_wkt(wkt)
    if tag != "LINESTRING":
        raise ValueError("ST_EndPoint only applies to LINE_STRING")
    return None if not payload else format_wkt(("POINT", payload[-1]))


def num_points(wkt: str) -> int:
    return len(list(_all_points(parse_wkt(wkt))))


def _ring_area2_cx_cy(ring):
    """2*signed area and the (unnormalized) centroid accumulators.
    Coordinates are translated to the ring's mean first — the
    shoelace cross terms otherwise cancel catastrophically for small
    shapes far from the origin (a Bing tile at lon 60 lost 8 digits
    of centroid precision without this)."""
    mx = sum(p[0] for p in ring) / len(ring)
    my = sum(p[1] for p in ring) / len(ring)
    a2 = cx = cy = 0.0
    for (px0, py0), (px1, py1) in _segments(ring):
        x0, y0, x1, y1 = px0 - mx, py0 - my, px1 - mx, py1 - my
        cross = x0 * y1 - x1 * y0
        a2 += cross
        cx += (x0 + x1) * cross
        cy += (y0 + y1) * cross
    return a2, cx, cy, mx, my


def area(wkt: str) -> float:
    tag, payload = parse_wkt(wkt)
    if tag == "POLYGON":
        polys = [payload] if payload else []
    elif tag == "MULTIPOLYGON":
        polys = payload or []
    else:
        raise ValueError(
            "ST_Area only applies to POLYGON or MULTI_POLYGON"
        )
    total = 0.0
    for rings in polys:
        outer = abs(_ring_signed_area2(rings[0])) / 2.0
        holes = sum(abs(_ring_signed_area2(r)) / 2.0 for r in rings[1:])
        total += outer - holes
    return total


def centroid(wkt: str):
    g = parse_wkt(wkt)
    tag, payload = g
    pts = list(_all_points(g))
    if not pts:
        return "POINT EMPTY"
    if tag == "POINT":
        return format_wkt(g)
    if tag == "MULTIPOINT":
        n = len(payload)
        return point_wkt(sum(p[0] for p in payload) / n,
                         sum(p[1] for p in payload) / n)
    if tag in ("LINESTRING", "MULTILINESTRING"):
        lines = [payload] if tag == "LINESTRING" else payload
        tw = cx = cy = 0.0
        for line in lines:
            for a, b in _segments(line):
                w = math.dist(a, b)
                tw += w
                cx += w * (a[0] + b[0]) / 2.0
                cy += w * (a[1] + b[1]) / 2.0
        if tw == 0.0:
            return point_wkt(pts[0][0], pts[0][1])
        return point_wkt(cx / tw, cy / tw)
    if tag in ("POLYGON", "MULTIPOLYGON"):
        polys = [payload] if tag == "POLYGON" else payload
        tw = wx = wy = 0.0
        for rings in polys:
            for k, ring in enumerate(rings):
                a2, rcx, rcy, mx, my = _ring_area2_cx_cy(ring)
                if a2 == 0.0:
                    continue
                # ring centroid in global coordinates
                gx = mx + rcx / (3.0 * a2)
                gy = my + rcy / (3.0 * a2)
                w = abs(a2) / 2.0 * (1.0 if k == 0 else -1.0)
                tw += w
                wx += w * gx
                wy += w * gy
        if tw == 0.0:
            return point_wkt(pts[0][0], pts[0][1])
        return point_wkt(wx / tw, wy / tw)
    raise ValueError("ST_Centroid: unsupported geometry collection")


def boundary(wkt: str) -> str:
    """GeoFunctions.java stBoundary: points -> empty collection,
    lines -> MULTIPOINT of non-interior endpoints (sorted),
    polygons -> their ring lines."""
    tag, payload = parse_wkt(wkt)
    if tag in ("POINT", "MULTIPOINT"):
        return "GEOMETRYCOLLECTION EMPTY"
    if tag in ("LINESTRING", "MULTILINESTRING"):
        lines = ([payload] if tag == "LINESTRING" else payload) or []
        counts: dict = {}
        for line in lines:
            if line:
                for p in (line[0], line[-1]):
                    counts[p] = counts.get(p, 0) + 1
        # OGC mod-2 rule: endpoints shared an even number of times
        # (incl. a closed line's coincident ends) are interior.
        # Ordering follows the reference's AsText: a single line keeps
        # its own endpoint order, multi-line boundaries come out
        # coordinate-sorted (TestGeoFunctions.java stBoundary pins).
        odd = [p for p, c in counts.items() if c % 2 == 1]
        ends = odd if len(lines) == 1 else sorted(odd)
        return format_wkt(("MULTIPOINT", ends or None))
    if tag == "POLYGON":
        rings = payload or []
        if not rings:
            return "MULTILINESTRING EMPTY"
        if len(rings) == 1:
            return format_wkt(("LINESTRING", rings[0]))
        return format_wkt(("MULTILINESTRING", rings))
    if tag == "MULTIPOLYGON":
        rings = [r for poly in (payload or []) for r in poly]
        return format_wkt(("MULTILINESTRING", rings or None))
    raise ValueError("ST_Boundary: unsupported geometry")


# --------------------------------------------------------------------------
# distance
# --------------------------------------------------------------------------


def _pt_seg_dist(p, a, b) -> float:
    ax, ay = a
    bx, by = b
    px, py = p
    dx, dy = bx - ax, by - ay
    denom = dx * dx + dy * dy
    if denom == 0.0:
        return math.dist(p, a)
    t = max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / denom))
    return math.dist(p, (ax + t * dx, ay + t * dy))


def _seg_seg_dist(a, b, c, d) -> float:
    if _segs_cross(a, b, c, d):
        return 0.0
    return min(
        _pt_seg_dist(a, c, d), _pt_seg_dist(b, c, d),
        _pt_seg_dist(c, a, b), _pt_seg_dist(d, a, b),
    )


def _point_in_rings(p, rings) -> bool:
    """Ray cast against the outer ring minus holes."""

    def in_ring(pt, ring):
        x, y = pt
        inside = False
        for (x0, y0), (x1, y1) in _segments(ring):
            if (y0 > y) != (y1 > y):
                xin = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
                if x < xin:
                    inside = not inside
        return inside

    if not in_ring(p, rings[0]):
        return False
    return not any(in_ring(p, hole) for hole in rings[1:])


def distance(wkt1: str, wkt2: str):
    g1, g2 = parse_wkt(wkt1), parse_wkt(wkt2)
    p1, s1, poly1 = _decompose(g1)
    p2, s2, poly2 = _decompose(g2)
    if not (p1 or s1 or poly1) or not (p2 or s2 or poly2):
        return None  # empty geometry -> NULL (ESRI distance contract)
    # polygon interiors: containment means distance 0
    for polys, opts, osegs in ((poly1, p2, s2), (poly2, p1, s1)):
        for rings in polys:
            for p in opts:
                if _point_in_rings(p, rings):
                    return 0.0
            for a, b in osegs:
                if _point_in_rings(a, rings) or _point_in_rings(b, rings):
                    return 0.0
    # polygons of one inside the other: test a vertex
    for rings in poly1:
        for rings2 in poly2:
            if _point_in_rings(rings[0][0], rings2) or _point_in_rings(
                rings2[0][0], rings
            ):
                return 0.0
    # boundaries as segments
    for rings in poly1:
        for ring in rings:
            s1.extend(_segments(ring))
    for rings in poly2:
        for ring in rings:
            s2.extend(_segments(ring))
    best = math.inf
    for p in p1:
        for q in p2:
            best = min(best, math.dist(p, q))
        for c, d in s2:
            best = min(best, _pt_seg_dist(p, c, d))
    for a, b in s1:
        for q in p2:
            best = min(best, _pt_seg_dist(q, a, b))
        for c, d in s2:
            best = min(best, _seg_seg_dist(a, b, c, d))
    return best


def line_locate_point(line_wkt: str, point_wkt_s: str):
    """GeoFunctions.java lineLocatePoint: fraction of the line's
    length at the point closest to the given point."""
    tag, pts = parse_wkt(line_wkt)
    if tag != "LINESTRING":
        raise ValueError(
            "line_locate_point: first argument must be a LineString"
        )
    ptag, p = parse_wkt(point_wkt_s)
    if ptag != "POINT":
        raise ValueError(
            "line_locate_point: second argument must be a Point"
        )
    if pts is None or p is None:
        return None
    total = sum(math.dist(a, b) for a, b in _segments(pts))
    if total == 0.0:
        return 0.0
    best = (math.inf, 0.0)
    walked = 0.0
    for a, b in _segments(pts):
        seg_len = math.dist(a, b)
        if seg_len > 0.0:
            dx, dy = b[0] - a[0], b[1] - a[1]
            t = max(0.0, min(1.0, ((p[0] - a[0]) * dx + (p[1] - a[1]) * dy)
                             / (seg_len * seg_len)))
        else:
            t = 0.0
        proj = (a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1]))
        d = math.dist(p, proj)
        if d < best[0]:
            best = (d, walked + t * seg_len)
        walked += seg_len
    return best[1] / total


# --------------------------------------------------------------------------
# spherical
# --------------------------------------------------------------------------


def great_circle_distance(lat1, lon1, lat2, lon2) -> float:
    """SphericalGeographyUtils.java:82-108 — spherical Vincenty in
    kilometers, EARTH_RADIUS_KM = 6371.01."""
    for lat in (lat1, lat2):
        if not -90.0 <= lat <= 90.0:
            raise ValueError("Latitude must be between -90 and 90")
    for lon in (lon1, lon2):
        if not -180.0 <= lon <= 180.0:
            raise ValueError("Longitude must be between -180 and 180")
    rlat1, rlat2 = math.radians(lat1), math.radians(lat2)
    sin1, cos1 = math.sin(rlat1), math.cos(rlat1)
    sin2, cos2 = math.sin(rlat2), math.cos(rlat2)
    dlon = math.radians(lon1) - math.radians(lon2)
    cos_dlon = math.cos(dlon)
    t1 = cos2 * math.sin(dlon)
    t2 = cos1 * sin2 - sin1 * cos2 * cos_dlon
    t3 = sin1 * sin2 + cos1 * cos2 * cos_dlon
    return math.atan2(math.hypot(t1, t2), t3) * EARTH_RADIUS_KM


# --------------------------------------------------------------------------
# Bing tiles (public Bing maps tile system; BingTileUtils.java).
# A tile is represented as its quadkey string — it uniquely encodes
# (x, y, zoom), and bing_tile_quadkey is the identity.
# --------------------------------------------------------------------------


def bing_tile_from_quadkey(qk: str) -> str:
    # zoom 0 is the empty quadkey (the whole-world tile)
    if len(qk) > 23 or re.search(r"[^0-3]", qk):
        raise ValueError(f"Invalid QuadKey: {qk}")
    return qk


def bing_tile_from_xyz(x: int, y: int, zoom: int) -> str:
    if not 0 <= zoom <= 23:
        raise ValueError(f"Zoom level must be <= 23, got {zoom}")
    n = 1 << zoom
    if not 0 <= x < n:
        raise ValueError(f"XCoordinate must be within [0, {n - 1}], got {x}")
    if not 0 <= y < n:
        raise ValueError(f"YCoordinate must be within [0, {n - 1}], got {y}")
    digits = []
    for i in range(zoom, 0, -1):
        digit = 0
        mask = 1 << (i - 1)
        if x & mask:
            digit += 1
        if y & mask:
            digit += 2
        digits.append(str(digit))
    return "".join(digits)


def bing_tile_xyz(qk: str) -> tuple[int, int, int]:
    x = y = 0
    for i, ch in enumerate(qk):
        mask = 1 << (len(qk) - 1 - i)
        d = int(ch)
        if d & 1:
            x |= mask
        if d & 2:
            y |= mask
    return x, y, len(qk)


def bing_tile_polygon(qk: str) -> str:
    """BingTileFunctions.java:367-373 bingTilePolygon: the envelope
    from tileXYToLatitudeLongitude corner math (exact formula parity;
    an atan/sinh equivalent differs in the last ulp at zoom 1 —
    pinned by TestBingTileFunctions.java:441)."""
    x, y, zoom = bing_tile_xyz(qk)
    west, south, east, north = _tile_envelope(x, y, zoom)
    ring = [(west, south), (west, north), (east, north), (east, south),
            (west, south)]
    return ENV_MARK + format_wkt(("POLYGON", [ring]))


def bing_tile_at(lat: float, lon: float, zoom: int) -> str:
    """BingTileUtils.java latitudeLongitudeToTile."""
    if not 0 <= zoom <= 23:
        raise ValueError(f"Zoom level must be <= 23, got {zoom}")
    if not MIN_LATITUDE <= lat <= MAX_LATITUDE:
        raise ValueError(
            f"Latitude must be between {MIN_LATITUDE} and {MAX_LATITUDE}"
        )
    if not -180.0 <= lon <= 180.0:
        raise ValueError("Longitude must be between -180 and 180")
    n = 1 << zoom
    xf = (lon + 180.0) / 360.0
    sin_lat = math.sin(math.radians(lat))
    yf = 0.5 - math.log((1 + sin_lat) / (1 - sin_lat)) / (4 * math.pi)
    x = min(n - 1, max(0, int(xf * n)))
    y = min(n - 1, max(0, int(yf * n)))
    return bing_tile_from_xyz(x, y, zoom)


# --------------------------------------------------------------------------
# geometry_to_bing_tiles (BingTileFunctions.java:375-460): minimal
# covering tile set. Tiles are quadkey strings in this engine.
# --------------------------------------------------------------------------

_TILE_PIXELS = 256
_OPTIMIZED_TILING_MIN_ZOOM = 10  # BingTileFunctions.java:78


def _map_size(zoom: int) -> int:
    return _TILE_PIXELS << zoom


def _clip(v, lo, hi):
    return min(max(v, lo), hi)


def _ll_to_tile_xy(lat: float, lon: float, zoom: int):
    """BingTileFunctions.java latitudeLongitudeToTile (no range
    raises; the caller validates)."""
    ms = _map_size(zoom)
    x = (lon + 180.0) / 360.0
    sin_lat = math.sin(lat * math.pi / 180)
    y = 0.5 - math.log((1 + sin_lat) / (1 - sin_lat)) / (4 * math.pi)
    tx = int(_clip(x * ms, 0, ms - 1)) // _TILE_PIXELS
    ty = int(_clip(y * ms, 0, ms - 1)) // _TILE_PIXELS
    return tx, ty


def _tile_xy_to_ll(tx: int, ty: int, zoom: int):
    """BingTileFunctions.java tileXYToLatitudeLongitude (upper-left
    corner)."""
    ms = _map_size(zoom)
    x = (_clip(tx * _TILE_PIXELS, 0, ms) / ms) - 0.5
    y = 0.5 - (_clip(ty * _TILE_PIXELS, 0, ms) / ms)
    lat = 90 - 360 * math.atan(math.exp(-y * 2 * math.pi)) / math.pi
    return 360 * x, lat  # (longitude, latitude)


def _tile_envelope(tx: int, ty: int, zoom: int):
    ulx, uly = _tile_xy_to_ll(tx, ty, zoom)
    lrx, lry = _tile_xy_to_ll(tx + 1, ty + 1, zoom)
    return (ulx, lry, lrx, uly)  # xmin ymin xmax ymax


def _env_disjoint_geom(env, dec) -> bool:
    """True if the tile envelope and the decomposed geometry are
    disjoint. dec = (points, segments, rings) with float coords."""
    x0, y0, x1, y1 = env
    pts, segs, rings = dec

    def in_rect(p):
        return x0 <= p[0] <= x1 and y0 <= p[1] <= y1

    if any(in_rect(p) for p in pts):
        return False
    rect_edges = [((x0, y0), (x1, y0)), ((x1, y0), (x1, y1)),
                  ((x1, y1), (x0, y1)), ((x0, y1), (x0, y0))]

    def segs_cross(a, b, c, d):
        def orient(p, q, r):
            return (q[0] - p[0]) * (r[1] - p[1]) \
                - (q[1] - p[1]) * (r[0] - p[0])

        d1, d2 = orient(c, d, a), orient(c, d, b)
        d3, d4 = orient(a, b, c), orient(a, b, d)
        if ((d1 > 0) != (d2 > 0) or 0 in (d1, d2)) and \
                ((d3 > 0) != (d4 > 0) or 0 in (d3, d4)):
            # includes touches; for collinear pairs check projection
            if d1 == d2 == 0:
                return (min(a[0], b[0]) <= max(c[0], d[0])
                        and min(c[0], d[0]) <= max(a[0], b[0])
                        and min(a[1], b[1]) <= max(c[1], d[1])
                        and min(c[1], d[1]) <= max(a[1], b[1]))
            return True
        return False

    for a, b in segs:
        if in_rect(a) or in_rect(b):
            return False
        if any(segs_cross(a, b, c, d) for c, d in rect_edges):
            return False

    def eo_inside(p, rs):
        cnt = 0
        for r in rs:
            for i in range(len(r)):
                a, b = r[i], r[(i + 1) % len(r)]
                if (a[1] > p[1]) != (b[1] > p[1]):
                    t = (p[1] - a[1]) / (b[1] - a[1])
                    if a[0] + t * (b[0] - a[0]) > p[0]:
                        cnt += 1
        return cnt % 2 == 1

    if rings:
        for r in rings:
            for p in r:
                if in_rect(p):
                    return False
            for i in range(len(r)):
                a, b = r[i], r[(i + 1) % len(r)]
                if any(segs_cross(a, b, c, d) for c, d in rect_edges):
                    return False
        # rect fully inside or fully outside the polygon region
        cx, cy = (x0 + x1) / 2, (y0 + y1) / 2
        if eo_inside((cx, cy), rings):
            return False
    return True


def _geom_contains_env(env, dec) -> bool:
    """True if the closed polygon region covers the envelope."""
    x0, y0, x1, y1 = env
    pts, segs, rings = dec
    if not rings:
        return False

    def eo_inside(p):
        cnt = 0
        for r in rings:
            for i in range(len(r)):
                a, b = r[i], r[(i + 1) % len(r)]
                if (a[1] > p[1]) != (b[1] > p[1]):
                    t = (p[1] - a[1]) / (b[1] - a[1])
                    if a[0] + t * (b[0] - a[0]) > p[0]:
                        cnt += 1
        return cnt % 2 == 1

    def on_boundary(p):
        for r in rings:
            for i in range(len(r)):
                a, b = r[i], r[(i + 1) % len(r)]
                cross = (b[0] - a[0]) * (p[1] - a[1]) \
                    - (b[1] - a[1]) * (p[0] - a[0])
                if cross == 0 and min(a[0], b[0]) <= p[0] <= max(a[0], b[0]) \
                        and min(a[1], b[1]) <= p[1] <= max(a[1], b[1]):
                    return True
        return False

    for c in ((x0, y0), (x0, y1), (x1, y0), (x1, y1),
              ((x0 + x1) / 2, (y0 + y1) / 2)):
        if not (eo_inside(c) or on_boundary(c)):
            return False
    def edge_enters_rect(a, b):
        # Liang-Barsky clip of segment ab to the closed rect; True iff
        # the clipped portion has a point STRICTLY inside the rect.
        # Catches concave boundaries that dip through the tile with
        # both endpoints outside and no vertex inside.
        dx, dy = b[0] - a[0], b[1] - a[1]
        t0, t1 = 0.0, 1.0
        for p, q in ((-dx, a[0] - x0), (dx, x1 - a[0]),
                     (-dy, a[1] - y0), (dy, y1 - a[1])):
            if p == 0:
                if q < 0:
                    return False
                continue
            t = q / p
            if p < 0:
                if t > t1:
                    return False
                if t > t0:
                    t0 = t
            else:
                if t < t0:
                    return False
                if t < t1:
                    t1 = t
        if t1 <= t0:
            return False  # at most a point touch
        tm = (t0 + t1) / 2
        px, py = a[0] + tm * dx, a[1] + tm * dy
        return x0 < px < x1 and y0 < py < y1

    # no ring vertex strictly inside the rect AND no boundary edge
    # passing through the rect interior means no boundary dips in
    for r in rings:
        for p in r:
            if x0 < p[0] < x1 and y0 < p[1] < y1:
                return False
        for i in range(len(r)):
            a, b = r[i], r[(i + 1) % len(r)]
            if edge_enters_rect(a, b):
                return False
    return True


def _decompose_float(wkt: str):
    g = parse_wkt(wkt)
    pts, segs, rings = [], [], []

    def load(t, payload):
        if payload is None:
            return
        if t == "POINT":
            pts.append(payload)
        elif t == "MULTIPOINT":
            pts.extend(payload)
        elif t == "LINESTRING":
            segs.extend(zip(payload, payload[1:]))
        elif t == "MULTILINESTRING":
            for path in payload:
                segs.extend(zip(path, path[1:]))
        elif t == "POLYGON":
            for r in payload:
                rr = r[:-1] if r[0] == r[-1] else r
                rings.append(rr)
        elif t == "MULTIPOLYGON":
            for rs in payload:
                for r in rs:
                    rr = r[:-1] if r[0] == r[-1] else r
                    rings.append(rr)
        else:
            for sub in payload:
                load(*sub)

    load(*g)
    return pts, segs, rings


def geometry_to_bing_tiles(wkt: str, zoom: int) -> list[str]:
    """BingTileFunctions.java:378-460 geometryToBingTiles; returns
    quadkeys in the reference's emission order (x-outer y-inner
    loops; quadtree recursion order on the optimized path)."""
    if zoom < 0:
        raise ValueError("Zoom level must be >= 0")
    if zoom > 23:
        raise ValueError("Zoom level must be <= 23")
    b = envelope_bounds(wkt)
    if b is None:
        return []
    x0, y0, x1, y1 = b
    for lat in (y0, y1):
        if not MIN_LATITUDE <= lat <= MAX_LATITUDE:
            raise ValueError(
                "Latitude span for the geometry must be in "
                "[-85.05, 85.05] range")
    for lon in (x0, x1):
        if not -180.0 <= lon <= 180.0:
            raise ValueError(
                "Longitude span for the geometry must be in "
                "[-180.00, 180.00] range")

    g = parse_wkt(wkt)
    point_or_rect = _is_point_or_rectangle(g, b)

    lu_x, lu_y = _ll_to_tile_xy(y1, x0, zoom)
    rl_x, rl_y = _ll_to_tile_xy(y0, x1, zoom)
    # border-only tiles shift left/up (BingTileFunctions.java:402-414)
    ul_lon, ul_lat = _tile_xy_to_ll(rl_x, rl_y, zoom)
    dx = -1 if rl_x > lu_x and ul_lon == x1 else 0
    dy = -1 if rl_y > lu_y and ul_lat == y0 else 0
    rl_x, rl_y = rl_x + dx, rl_y + dy

    tile_count = (rl_x - lu_x + 1) * (rl_y - lu_y + 1)
    dec = _decompose_float(wkt)
    n_points = (len(dec[0]) + sum(2 for _ in dec[1])
                + sum(len(r) for r in dec[2]))
    if point_or_rect:
        if tile_count > 1_000_000:
            raise ValueError(
                "The number of tiles covering input rectangle exceeds "
                "the limit of 1M. Number of tiles: %d. Rectangle: "
                "xMin=%.2f, yMin=%.2f, xMax=%.2f, yMax=%.2f. "
                "Zoom level: %d." % (tile_count, x0, y0, x1, y1, zoom))
    else:
        if tile_count > 2**31 - 1:
            raise ValueError(
                "The zoom level is too high to compute a set of "
                "covering Bing tiles.")
        if tile_count * n_points > 25_000_000:
            raise ValueError(
                "The zoom level is too high or the geometry is too "
                "complex to compute a set of covering Bing tiles. "
                "Please use a lower zoom level or convert the geometry "
                "to its bounding box using the ST_Envelope function.")

    out: list[str] = []

    def disjoint_tile(tx, ty, z):
        return _env_disjoint_geom(_tile_envelope(tx, ty, z), dec)

    if point_or_rect or zoom <= _OPTIMIZED_TILING_MIN_ZOOM:
        for tx in range(lu_x, rl_x + 1):
            for ty in range(lu_y, rl_y + 1):
                if point_or_rect or not disjoint_tile(tx, ty, zoom):
                    out.append(bing_tile_from_xyz(tx, ty, zoom))
        return out

    # optimized path: parent tiles at zoom 10, quadtree refinement
    div = 1 << (zoom - _OPTIMIZED_TILING_MIN_ZOOM)
    z0 = _OPTIMIZED_TILING_MIN_ZOOM

    def append_subtiles(tx, ty, z):
        env = _tile_envelope(tx, ty, z)
        if z == zoom:
            if not _env_disjoint_geom(env, dec):
                out.append(bing_tile_from_xyz(tx, ty, z))
            return
        if _geom_contains_env(env, dec):
            n = 1 << (zoom - z)
            for x in range(n * tx, n * tx + n):
                for y in range(n * ty, n * ty + n):
                    out.append(bing_tile_from_xyz(x, y, zoom))
            return
        if _env_disjoint_geom(env, dec):
            return
        for x in (2 * tx, 2 * tx + 1):
            for y in (2 * ty, 2 * ty + 1):
                append_subtiles(x, y, z + 1)

    # getTilesInBetween order: x outer, y inner
    for px in range(lu_x // div, rl_x // div + 1):
        for py in range(lu_y // div, rl_y // div + 1):
            append_subtiles(px, py, z0)
    return out


def _is_point_or_rectangle(g, b) -> bool:
    """GeometryUtils.java isPointOrRectangle."""
    tag, payload = g
    if tag == "POINT" and payload is not None:
        return True
    if tag != "POLYGON" or not payload or len(payload) != 1:
        return False
    ring = payload[0]
    r = ring[:-1] if ring[0] == ring[-1] else ring
    if len(r) != 4:
        return False
    x0, y0, x1, y1 = b
    corners = {(x0, y0), (x0, y1), (x1, y0), (x1, y1)}
    return all(tuple(p) in corners for p in r)


# --------------------------------------------------------------------------
# Collection / ring accessors (GeoFunctions.java:552-820) and the
# array->geometry constructors (ST_LineString:149, ST_MultiPoint:171).
# --------------------------------------------------------------------------

_ENUM_NAMES = {
    "POINT": "POINT",
    "MULTIPOINT": "MULTI_POINT",
    "LINESTRING": "LINE_STRING",
    "MULTILINESTRING": "MULTI_LINE_STRING",
    "POLYGON": "POLYGON",
    "MULTIPOLYGON": "MULTI_POLYGON",
    "GEOMETRYCOLLECTION": "GEOMETRY_COLLECTION",
}


def _validate_type(fn: str, tag: str, allowed: tuple):
    if tag not in allowed:
        names = " or ".join(_ENUM_NAMES[t] for t in allowed)
        raise ValueError(
            f"{fn} only applies to {names}. "
            f"Input type is: {_ENUM_NAMES[tag]}")


def interior_rings(wkt: str):
    """ST_InteriorRings (GeoFunctions.java:552): array of the hole
    rings as LINESTRINGs; null for the empty polygon."""
    tag, payload = parse_wkt(wkt)
    _validate_type("ST_InteriorRings", tag, ("POLYGON",))
    if payload is None:
        return None
    return [format_wkt(("LINESTRING", r)) for r in payload[1:]]


def interior_ring_n(wkt: str, index: int):
    """ST_InteriorRingN (1-based; null out of range)."""
    tag, payload = parse_wkt(wkt)
    _validate_type("ST_InteriorRingN", tag, ("POLYGON",))
    holes = payload[1:] if payload else []
    if index < 1 or index > len(holes):
        return None
    return format_wkt(("LINESTRING", holes[index - 1]))


def _collection_parts(tag, payload):
    if tag == "MULTIPOINT":
        return [("POINT", p) for p in payload]
    if tag == "MULTILINESTRING":
        return [("LINESTRING", path) for path in payload]
    if tag == "MULTIPOLYGON":
        return [("POLYGON", rings) for rings in payload]
    return list(payload)  # GEOMETRYCOLLECTION


def num_geometries(wkt: str) -> int:
    """ST_NumGeometries (GeoFunctions.java:571)."""
    tag, payload = parse_wkt(wkt)
    if payload is None:
        return 0
    if tag in ("POINT", "LINESTRING", "POLYGON"):
        return 1
    return len(_collection_parts(tag, payload))


def geometry_n(wkt: str, index: int):
    """ST_GeometryN (GeoFunctions.java:646; 1-based, null OOR)."""
    tag, payload = parse_wkt(wkt)
    if payload is None:
        return None
    if tag in ("POINT", "LINESTRING", "POLYGON"):
        return format_wkt((tag, payload)) if index == 1 else None
    parts = _collection_parts(tag, payload)
    if index < 1 or index > len(parts):
        return None
    return format_wkt(parts[index - 1])


def point_n(wkt: str, index: int):
    """ST_PointN (GeoFunctions.java:670; LINESTRING only)."""
    tag, payload = parse_wkt(wkt)
    _validate_type("ST_PointN", tag, ("LINESTRING",))
    pts = payload or []
    if index < 1 or index > len(pts):
        return None
    return format_wkt(("POINT", pts[index - 1]))


def geometries(wkt: str):
    """ST_Geometries (GeoFunctions.java:686): null for empty, the
    singleton for simple types, parts for collections."""
    tag, payload = parse_wkt(wkt)
    if payload is None:
        return None
    if tag in ("POINT", "LINESTRING", "POLYGON"):
        return [format_wkt((tag, payload))]
    return [format_wkt(p) for p in _collection_parts(tag, payload)]


def points_of(wkt: str):
    """ST_Points (GeoFunctions.java:795): every vertex in order."""
    g = parse_wkt(wkt)
    if g[1] is None:
        return None
    return [format_wkt(("POINT", p)) for p in _all_points(g)]


def line_string_from(points: list) -> str:
    """ST_LineString over array(Geometry) (GeoFunctions.java:149):
    inputs must be points, nulls raise, consecutive duplicates raise;
    under 2 distinct coordinates -> LINESTRING EMPTY."""
    coords = _read_point_coords(points, "ST_LineString",
                                forbid_duplicates=True)
    if len(coords) < 2:
        return "LINESTRING EMPTY"
    return format_wkt(("LINESTRING", coords))


def multi_point_from(points: list):
    """ST_MultiPoint over array(Geometry) (GeoFunctions.java:171)."""
    coords = _read_point_coords(points, "ST_MultiPoint",
                                forbid_duplicates=False)
    if not coords:
        return None
    return format_wkt(("MULTIPOINT", coords))


def _read_point_coords(points, fn, forbid_duplicates):
    coords = []
    last = None
    for i, w in enumerate(points):
        if w is None:
            raise ValueError(f"Invalid input to {fn}: null at index {i + 1}")
        tag, payload = parse_wkt(w)
        if tag != "POINT":
            raise ValueError(
                f"Invalid input to {fn}: geometry is not a point: "
                f"{_ENUM_NAMES[tag]} at index {i + 1}")
        if payload is None:
            raise ValueError(
                f"Invalid input to {fn}: empty point at index {i + 1}")
        if forbid_duplicates and payload == last:
            raise ValueError(
                f"Invalid input to {fn}: consecutive duplicate points "
                f"at index {i + 1}")
        coords.append(payload)
        last = payload
    return coords


# --------------------------------------------------------------------------
# SphericalGeography (SphericalGeoFunctions.java:77-437,
# SphericalGeographyUtils.java:60-180). Values carry the SPH: prefix
# — the value-level analog of the SPHERICAL_GEOGRAPHY type; the
# overloaded ST_* entry points dispatch on it.
# --------------------------------------------------------------------------

EARTH_RADIUS_M = EARTH_RADIUS_KM * 1000.0


def _check_lat_sph(lat: float):
    if not (-90.0 <= lat <= 90.0) or math.isnan(lat):
        raise ValueError("Latitude must be between -90 and 90")


def _check_lon_sph(lon: float):
    if not (-180.0 <= lon <= 180.0) or math.isnan(lon):
        raise ValueError("Longitude must be between -180 and 180")


def to_spherical_geography(wkt: str) -> str:
    """to_spherical_geography: envelope range validation then the
    value unchanged, SPH-marked."""
    b = envelope_bounds(wkt)
    if b is not None:
        _check_lat_sph(b[1])
        _check_lat_sph(b[3])
        _check_lon_sph(b[0])
        _check_lon_sph(b[2])
    return SPH_MARK + geometry_from_text(wkt)


def to_geometry(wkt: str) -> str:
    return geometry_from_text(wkt)


def _validate_sph(fn: str, tag: str, allowed: tuple):
    if tag not in allowed:
        names = " or ".join(_ENUM_NAMES[t] for t in allowed)
        raise ValueError(
            f"When applied to SphericalGeography inputs, {fn} only "
            f"supports {names}. Input type is: {_ENUM_NAMES[tag]}")


def spherical_distance(w1: str, w2: str):
    """ST_Distance over SphericalGeography: meters between points."""
    g1, g2 = parse_wkt(w1), parse_wkt(w2)
    if g1[1] is None or g2[1] is None:
        return None
    _validate_sph("ST_Distance", g1[0], ("POINT",))
    _validate_sph("ST_Distance", g2[0], ("POINT",))
    (x1, y1), (x2, y2) = g1[1], g2[1]
    return great_circle_distance(y1, x1, y2, x2) * 1000


def spherical_length(wkt: str):
    """ST_Length over SphericalGeography: great-circle path sum in
    meters."""
    tag, payload = parse_wkt(wkt)
    if payload is None:
        return None
    _validate_sph("ST_Length", tag, ("LINESTRING", "MULTILINESTRING"))
    paths = [payload] if tag == "LINESTRING" else payload
    paths = [p for p in paths if p]
    if not any(paths):
        return None
    total = 0.0
    for path in paths:
        for (x1, y1), (x2, y2) in zip(path, path[1:]):
            total += great_circle_distance(y1, x1, y2, x2)
    return total * 1000


def _spherical_excess(ring) -> float:
    """SphericalGeoFunctions.java:338-436 SphericalExcessCalculator
    (bearing-tracked L'Huilier-style excess with pole correction)."""
    pts = list(ring)
    if pts[-1] == pts[0]:
        pts = pts[:-1]
    if len(pts) < 3:
        raise ValueError(
            "Polygon is not valid: a loop contains less then 3 vertices.")
    TWO_PI, THREE_PI = 2 * math.pi, 3 * math.pi
    end = pts[-1]
    prev_phi = math.radians(end[1])
    prev_sin, prev_cos = math.sin(prev_phi), math.cos(prev_phi)
    prev_tan = math.tan(prev_phi / 2)
    prev_lon = math.radians(end[0])
    excess = 0.0
    course = 0.0
    first = True
    first_initial = prev_final = 0.0
    for px, py in pts:
        phi = math.radians(py)
        tan = math.tan(phi / 2)
        lon = math.radians(px)
        if lon == prev_lon and phi == prev_phi:
            raise ValueError(
                "Polygon is not valid: it has two identical "
                "consecutive vertices")
        dlon = lon - prev_lon
        excess += 2 * math.atan2(
            math.tan(dlon / 2) * (prev_tan + tan), 1 + prev_tan * tan)
        cos, sin = math.cos(phi), math.sin(phi)
        sin_d, cos_d = math.sin(dlon), math.cos(dlon)
        iy = sin_d * cos
        ix = prev_cos * sin - prev_sin * cos * cos_d
        initial = (math.atan2(iy, ix) + TWO_PI) % TWO_PI
        fy = -sin_d * prev_cos
        fx = prev_sin * cos - prev_cos * sin * cos_d
        final = (math.atan2(fy, fx) + math.pi) % TWO_PI
        if first:
            first_initial = initial
            first = False
        else:
            course += (initial - prev_final + THREE_PI) % TWO_PI - math.pi
        course += (final - initial + THREE_PI) % TWO_PI - math.pi
        prev_final = final
        prev_cos, prev_sin, prev_phi = cos, sin, phi
        prev_tan, prev_lon = tan, lon
    course += (first_initial - prev_final + THREE_PI) % TWO_PI - math.pi
    if abs(course) < math.pi / 4:
        excess = abs(excess) - TWO_PI
    return excess


def spherical_area(wkt: str):
    """ST_Area over SphericalGeography (square meters)."""
    tag, payload = parse_wkt(wkt)
    if payload is None:
        return None
    _validate_sph("ST_Area", tag, ("POLYGON", "MULTIPOLYGON"))
    polys = [payload] if tag == "POLYGON" else payload
    excess = 0.0
    for rings in polys:
        for i, ring in enumerate(rings):
            sign = 1.0 if i == 0 else -1.0
            excess += sign * abs(_spherical_excess(ring))
    return abs(excess * EARTH_RADIUS_M * EARTH_RADIUS_M)


def spherical_centroid(wkt: str):
    """ST_Centroid over SphericalGeography (POINT/MULTIPOINT; 3D mean
    vector renormalized — SphericalGeoFunctions.java:259-320)."""
    tag, payload = parse_wkt(wkt)
    if payload is None:
        return None
    _validate_sph("ST_Centroid", tag, ("POINT", "MULTIPOINT"))
    if tag == "POINT":
        return SPH_MARK + format_wkt((tag, payload))
    for x, y in payload:
        _check_lon_sph(x)
        _check_lat_sph(y)
    if len(payload) == 1:
        return SPH_MARK + format_wkt(("POINT", payload[0]))
    xt = yt = zt = 0.0
    for lon, lat in payload:
        phi = math.radians(90 - lat)
        theta = math.radians(lon)
        xt += EARTH_RADIUS_KM * math.sin(phi) * math.cos(theta)
        yt += EARTH_RADIUS_KM * math.sin(phi) * math.sin(theta)
        zt += EARTH_RADIUS_KM * math.cos(phi)
    vlen = math.sqrt(xt * xt + yt * yt + zt * zt)
    if vlen == 0.0:
        raise ValueError(
            "Unexpected error. Average vector length adds to zero "
            "(%f, %f, %f)" % (xt, yt, zt))
    phi = math.atan2(math.sqrt(xt * xt + yt * yt), zt)
    theta = math.atan2(yt, xt)
    return SPH_MARK + format_wkt(
        ("POINT", (math.degrees(theta), 90 - math.degrees(phi))))


# SQL-surface dispatchers: the reference overloads ST_Area/ST_Length/
# ST_Centroid/ST_Distance on the SPHERICAL_GEOGRAPHY type; here they
# dispatch on the SPH: value mark.


def area_sql(wkt: str):
    return spherical_area(wkt) if wkt.startswith(SPH_MARK) else area(wkt)


def length_sql(wkt: str):
    return (spherical_length(wkt) if wkt.startswith(SPH_MARK)
            else length(wkt))


def centroid_sql(wkt: str):
    return (spherical_centroid(wkt) if wkt.startswith(SPH_MARK)
            else centroid(wkt))


# --------------------------------------------------------------------------
# r12 batch 2: ST_ConvexHull, ST_CoordDim, ST_Dimension,
# ST_EnvelopeAsPts, line_interpolate_point, WKB I/O
# (GeoFunctions.java:303-378,430-520,720-758).
# --------------------------------------------------------------------------


def convex_hull(wkt: str) -> str:
    """ST_ConvexHull (GeoFunctions.java:303): monotone chain over
    every vertex. Output conventions from TestGeoFunctions
    testSTConvexHull: clockwise ring rotated to the first INPUT
    vertex that lies on the hull; collinear inputs print the extreme
    pair; single point prints POINT; empties keep their tag."""
    g = parse_wkt(wkt)
    pts = list(_all_points(g))
    if not pts:
        return format_wkt(g)
    uniq = list(dict.fromkeys(pts))
    if len(uniq) == 1:
        return format_wkt(("POINT", uniq[0]))

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) \
            - (a[1] - o[1]) * (b[0] - o[0])

    srt = sorted(uniq)
    lower, upper = [], []
    for p in srt:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    for p in reversed(srt):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    hull = lower[:-1] + upper[:-1]  # counter-clockwise
    if len(hull) <= 2:
        lo, hi = srt[0], srt[-1]
        return format_wkt(("LINESTRING", [lo, hi]))
    hull = hull[::-1]  # clockwise (ESRI exterior convention)
    on_hull = set(hull)
    start = next((p for p in pts if p in on_hull), hull[0])
    i = hull.index(start)
    ring = hull[i:] + hull[:i]
    return format_wkt(("POLYGON", [ring + [ring[0]]]))


def coord_dim(wkt: str) -> int:
    """ST_CoordDim: always 2 in this planar engine (no Z/M)."""
    parse_wkt(wkt)
    return 2


def dimension(wkt: str) -> int:
    """ST_Dimension: topological dimension by TYPE (a POLYGON EMPTY
    is still 2 — TestGeoFunctions testSTDimension)."""
    tag, payload = parse_wkt(wkt)
    if tag in ("POINT", "MULTIPOINT"):
        return 0
    if tag in ("LINESTRING", "MULTILINESTRING"):
        return 1
    if tag in ("POLYGON", "MULTIPOLYGON"):
        return 2
    return max((dimension(format_wkt(sub)) for sub in payload or []),
               default=0)


def envelope_as_pts(wkt: str):
    """ST_EnvelopeAsPts: [lower-left, upper-right] POINTs, null for
    empty input."""
    b = envelope_bounds(wkt)
    if b is None:
        return None
    return [format_wkt(("POINT", (b[0], b[1]))),
            format_wkt(("POINT", (b[2], b[3])))]


def line_interpolate_point(wkt: str, fraction: float):
    """line_interpolate_point (GeoFunctions.java:505): the point at
    `fraction` of the total 2D length; EMPTY -> POINT EMPTY."""
    if not 0.0 <= fraction <= 1.0 or math.isnan(fraction):
        raise ValueError(
            "line_interpolate_point: Fraction must be between 0 and "
            "1, but is %r" % fraction)
    tag, payload = parse_wkt(wkt)
    _validate_type("line_interpolate_point", tag, ("LINESTRING",))
    if payload is None:
        return "POINT EMPTY"
    pts = payload
    total = sum(math.hypot(b[0] - a[0], b[1] - a[1])
                for a, b in zip(pts, pts[1:]))
    if total == 0.0 or fraction == 0.0:
        return format_wkt(("POINT", pts[0]))
    target = fraction * total
    acc = 0.0
    for a, b in zip(pts, pts[1:]):
        seg = math.hypot(b[0] - a[0], b[1] - a[1])
        if acc + seg >= target:
            t = (target - acc) / seg
            return format_wkt(("POINT",
                               (a[0] + t * (b[0] - a[0]),
                                a[1] + t * (b[1] - a[1]))))
        acc += seg
    return format_wkt(("POINT", pts[-1]))


# --- WKB (OGC well-known binary, little-endian; ST_AsBinary /
# ST_GeomFromBinary round-trip pinned by testSTGeometryFromBinary) ---

_WKB_CODES = {"POINT": 1, "LINESTRING": 2, "POLYGON": 3,
              "MULTIPOINT": 4, "MULTILINESTRING": 5,
              "MULTIPOLYGON": 6, "GEOMETRYCOLLECTION": 7}
_WKB_TAGS = {v: k for k, v in _WKB_CODES.items()}


def as_binary(wkt: str) -> bytes:
    import struct

    def pt(p):
        return struct.pack("<2d", float(p[0]), float(p[1]))

    def enc(g) -> bytes:
        tag, payload = g
        head = struct.pack("<BI", 1, _WKB_CODES[tag])
        if tag == "POINT":
            if payload is None:
                return head + struct.pack("<2d",
                                          float("nan"), float("nan"))
            return head + pt(payload)
        if payload is None:
            return head + struct.pack("<I", 0)
        if tag == "LINESTRING":
            return head + struct.pack("<I", len(payload)) \
                + b"".join(pt(p) for p in payload)
        if tag == "MULTIPOINT":
            return head + struct.pack("<I", len(payload)) \
                + b"".join(enc(("POINT", p)) for p in payload)
        if tag == "MULTILINESTRING":
            return head + struct.pack("<I", len(payload)) \
                + b"".join(enc(("LINESTRING", p)) for p in payload)
        if tag == "POLYGON":
            body = struct.pack("<I", len(payload))
            for ring in payload:
                body += struct.pack("<I", len(ring)) \
                    + b"".join(pt(p) for p in ring)
            return head + body
        if tag == "MULTIPOLYGON":
            return head + struct.pack("<I", len(payload)) \
                + b"".join(enc(("POLYGON", rs)) for rs in payload)
        return head + struct.pack("<I", len(payload)) \
            + b"".join(enc(sub) for sub in payload)

    return enc(parse_wkt(wkt))


def geom_from_binary(data: bytes) -> str:
    import struct

    def rd(buf, off):
        order, code = struct.unpack_from("<BI", buf, off)
        if order != 1:
            raise ValueError("Invalid WKB: big-endian not supported")
        tag = _WKB_TAGS.get(code)
        if tag is None:
            raise ValueError(f"Invalid WKB geometry type {code}")
        off += 5
        if tag == "POINT":
            x, y = struct.unpack_from("<2d", buf, off)
            off += 16
            if math.isnan(x) and math.isnan(y):
                return ("POINT", None), off
            return ("POINT", (x, y)), off
        (n,) = struct.unpack_from("<I", buf, off)
        off += 4
        if n == 0:
            return (tag, None), off
        if tag == "LINESTRING":
            pts = list(struct.unpack_from(f"<{2 * n}d", buf, off))
            off += 16 * n
            return (tag, list(zip(pts[::2], pts[1::2]))), off
        if tag == "POLYGON":
            rings = []
            for _ in range(n):
                (m,) = struct.unpack_from("<I", buf, off)
                off += 4
                pts = list(struct.unpack_from(f"<{2 * m}d", buf, off))
                off += 16 * m
                rings.append(list(zip(pts[::2], pts[1::2])))
            return (tag, _normalize_rings(rings)), off
        parts = []
        for _ in range(n):
            sub, off = rd(buf, off)
            parts.append(sub)
        if tag == "MULTIPOINT":
            return (tag, [p[1] for p in parts]), off
        if tag == "MULTILINESTRING":
            return (tag, [p[1] for p in parts]), off
        if tag == "MULTIPOLYGON":
            return (tag, [p[1] for p in parts]), off
        return (tag, parts), off

    g, _ = rd(bytes(data), 0)
    return format_wkt(g)


# --------------------------------------------------------------------------
# bing_tiles_around — 3-arg 3x3 neighborhood and 4-arg radius cover
# (BingTileFunctions.java:198-363).
# --------------------------------------------------------------------------


def bing_tiles_around(lat: float, lon: float, zoom: int) -> list[str]:
    if not MIN_LATITUDE <= lat <= MAX_LATITUDE:
        raise ValueError(
            f"Latitude must be between {MIN_LATITUDE} and {MAX_LATITUDE}")
    if not -180.0 <= lon <= 180.0:
        raise ValueError("Longitude must be between -180 and 180")
    if zoom < 0:
        raise ValueError("Zoom level must be >= 0")
    if zoom > 23:
        raise ValueError("Zoom level must be <= 23")
    max_idx = (_map_size(zoom) // _TILE_PIXELS) - 1
    tx, ty = _ll_to_tile_xy(lat, lon, zoom)
    out = []
    for i in (-1, 0, 1):
        for j in (-1, 0, 1):
            x, y = tx + i, ty + j
            if 0 <= x <= max_idx and 0 <= y <= max_idx:
                out.append(bing_tile_from_xyz(x, y, zoom))
    return out


def _add_distance_to_latitude(lat, radius_km, bearing):
    lr, br = math.radians(lat), math.radians(bearing)
    rr = radius_km / EARTH_RADIUS_KM
    new_lat = math.degrees(math.asin(
        math.sin(lr) * math.cos(rr)
        + math.cos(lr) * math.sin(rr) * math.cos(br)))
    return min(max(new_lat, MIN_LATITUDE), MAX_LATITUDE)


def _add_distance_to_longitude(lat, lon, radius_km, bearing):
    lr = math.radians(lat)
    lo = math.radians(lon)
    br = math.radians(bearing)
    rr = radius_km / EARTH_RADIUS_KM
    new_lon = math.degrees(lo + math.atan2(
        math.sin(br) * math.sin(rr) * math.cos(lr),
        math.cos(rr) - math.sin(lr) * math.sin(lr)))
    if new_lon > 180.0:
        return -180.0 + (new_lon - 180.0)
    if new_lon < -180.0:
        return 180.0 + (new_lon + 180.0)
    return new_lon


def bing_tiles_around_radius(lat: float, lon: float, zoom: int,
                             radius_km: float) -> list[str]:
    """Radius cover with the reference's exact emission order: the
    center row, the center column, then the four corner sweeps with
    the nearest-corner early-include walk."""
    if not MIN_LATITUDE <= lat <= MAX_LATITUDE:
        raise ValueError(
            f"Latitude must be between {MIN_LATITUDE} and {MAX_LATITUDE}")
    if not -180.0 <= lon <= 180.0:
        raise ValueError("Longitude must be between -180 and 180")
    if zoom < 0:
        raise ValueError("Zoom level must be >= 0")
    if zoom > 23:
        raise ValueError("Zoom level must be <= 23")
    if not radius_km >= 0:
        raise ValueError("Radius must be >= 0")
    if not radius_km <= 1000:
        raise ValueError("Radius must be <= 1,000 km")
    max_idx = (_map_size(zoom) // _TILE_PIXELS) - 1
    tx, ty = _ll_to_tile_xy(lat, lon, zoom)
    top_t = _ll_to_tile_xy(
        _add_distance_to_latitude(lat, radius_km, 0), lon, zoom)
    bot_t = _ll_to_tile_xy(
        _add_distance_to_latitude(lat, radius_km, 180), lon, zoom)
    left_t = _ll_to_tile_xy(
        lat, _add_distance_to_longitude(lat, lon, radius_km, 270), zoom)
    right_t = _ll_to_tile_xy(
        lat, _add_distance_to_longitude(lat, lon, radius_km, 90), zoom)
    wrap = right_t[0] < left_t[0]
    count_x = (right_t[0] + max_idx - left_t[0] + 2) if wrap \
        else (right_t[0] - left_t[0] + 1)
    count_y = bot_t[1] - top_t[1] + 1
    total = count_x * count_y
    if total > 1_000_000:
        raise ValueError(
            "The number of tiles covering input rectangle exceeds the "
            "limit of 1M. Number of tiles: %d. Radius: %.1f km. "
            "Zoom level: %d." % (total, radius_km, zoom))
    out = []
    for i in range(count_x):
        x = (left_t[0] + i) % (max_idx + 1)
        out.append(bing_tile_from_xyz(x, ty, zoom))
    for y in range(top_t[1], bot_t[1] + 1):
        if y != ty:
            out.append(bing_tile_from_xyz(tx, y, zoom))

    sin_lat = math.sin(math.radians(lat))
    cos_lat = math.cos(math.radians(lat))
    lon_r = math.radians(lon)

    def within(p_lon, p_lat):
        # GreatCircleDistanceToPoint: Vincenty against the center
        lr = math.radians(p_lat)
        dlon = lon_r - math.radians(p_lon)
        t1 = math.cos(lr) * math.sin(dlon)
        t2 = cos_lat * math.sin(lr) - sin_lat * math.cos(lr) * math.cos(dlon)
        t3 = sin_lat * math.sin(lr) + cos_lat * math.cos(lr) * math.cos(dlon)
        return math.atan2(math.hypot(t1, t2), t3) * EARTH_RADIUS_KM \
            <= radius_km

    def corner_sweep(x_iter, y_range, corner_of):
        for x in x_iter:
            include = False
            for y in y_range:
                if include:
                    out.append(bing_tile_from_xyz(x, y, zoom))
                else:
                    cx, cy = corner_of(x, y)
                    p_lon, p_lat = _tile_xy_to_ll(cx, cy, zoom)
                    if within(p_lon, p_lat):
                        include = True
                        out.append(bing_tile_from_xyz(x, y, zoom))

    def dec_wrap(x):
        while x != tx:
            yield x
            x = max_idx if x == 0 else x - 1

    def inc_wrap(x):
        while x != tx:
            yield x
            x = (x + 1) % (max_idx + 1)

    # top-right / bottom-right from the right edge walking left
    for x in dec_wrap(right_t[0]):
        corner_sweep([x], range(top_t[1], ty),
                     lambda a, b: (a, b + 1))        # bottom-left
        corner_sweep([x], range(bot_t[1], ty, -1),
                     lambda a, b: (a, b))            # top-left
    for x in inc_wrap(left_t[0]):
        corner_sweep([x], range(top_t[1], ty),
                     lambda a, b: (a + 1, b + 1))    # bottom-right
        corner_sweep([x], range(bot_t[1], ty, -1),
                     lambda a, b: (a + 1, b))        # top-right
    return out


def convex_hull_of(wkts):
    """convex_hull_agg: hull of every vertex of every input (null
    inputs skipped; empty input -> null)."""
    parts = []
    for w in wkts or []:
        if w is None:
            continue
        g = parse_wkt(w)
        if g[1] is not None:
            parts.append(g)
    if not parts:
        return None
    return convex_hull(format_wkt(("GEOMETRYCOLLECTION", parts)))
