"""Planar geometry kernel for the general ST_* surface.

The reference's GIS UDFs (contrib/udfs src .../udfs/gis/ST*.java) run
on the ESRI geometry library; the subset here reimplements the
standard planar semantics (OGC Simple Features / DE-9IM) for POINT,
MULTIPOINT, LINESTRING and POLYGON (with holes), which covers every
case the reference's TestGeometryFunctions exercises: WKT/WKB codecs,
JSON/GeoJSON output, intersects / disjoint / touches / crosses /
overlaps / equals / contains / within, DE-9IM ``relate`` with
wildcard patterns, buffers (n-gon circles / capsule unions), envelopes
and coordinate extrema, polygon boolean ops (union / intersection /
difference via the overlay clipping kernel below, incl. shared-edge
and hole-producing cases), ST_UnionAggregate, and ST_Transform
(ops/crs.py closed-form projections; the LCC state-plane path
reproduces the reference test's proj4j output to 1e-13).

Geometries travel between SQL calls as WKT strings (the reference
passes opaque ESRI VARBINARY; text keeps it debuggable and engine-
neutral). Functions are registered as vectorized pandas UDFs in
functions.py — geometry predicates are genuinely per-row compute,
the same shape as the reference's row-at-a-time Java UDFs, but
Arrow-batched.
"""

from __future__ import annotations

import math
import struct

_EPS = 1e-9


# ------------------------------------------------------------- WKT


def parse_wkt(wkt: str):
    """WKT -> (type, coords). POINT (x, y); LINESTRING [pts];
    POLYGON [rings]; MULTIPOINT [pts]; MULTIPOLYGON [[rings]]."""
    if wkt is None:
        return None
    s = wkt.strip()
    if not s or s.upper() in ("NULL", "EMPTY"):
        return None
    head = s.split("(", 1)[0].strip().upper()
    body = s[s.find("("):] if "(" in s else ""

    def nums(seg: str):
        pts = []
        for pair in seg.split(","):
            parts = pair.split()
            pts.append((float(parts[0]), float(parts[1])))
        return pts

    if head == "POINT":
        return ("POINT", nums(body.strip("() "))[0])
    if head == "MULTIPOINT":
        seg = body.strip("() ").replace("(", "").replace(")", "")
        return ("MULTIPOINT", nums(seg))
    if head == "LINESTRING":
        return ("LINESTRING", nums(body.strip("() ")))
    if head == "MULTILINESTRING":
        lines, depth, cur = [], 0, ""
        for ch in body:
            if ch == "(":
                depth += 1
                if depth == 2:
                    cur = ""
                continue
            if ch == ")":
                if depth == 2:
                    lines.append(nums(cur))
                depth -= 1
                continue
            cur += ch
        return ("MULTILINESTRING", lines)
    if head == "GEOMETRYCOLLECTION":
        inner = body.strip()[1:-1]  # strip outer parens
        parts, depth, cur = [], 0, ""
        for ch in inner:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append(cur)
                cur = ""
            else:
                cur += ch
        if cur.strip():
            parts.append(cur)
        return ("GEOMETRYCOLLECTION", [parse_wkt(p) for p in parts])
    if head in ("POLYGON", "MULTIPOLYGON"):
        # ring splitting by parens depth
        rings, depth, cur, polys = [], 0, "", []
        for ch in body:
            if ch == "(":
                depth += 1
                if depth == (2 if head == "POLYGON" else 3):
                    cur = ""
                continue
            if ch == ")":
                if depth == (2 if head == "POLYGON" else 3):
                    rings.append(nums(cur))
                if head == "MULTIPOLYGON" and depth == 2:
                    polys.append(rings)
                    rings = []
                depth -= 1
                continue
            cur += ch
        if head == "POLYGON":
            return ("POLYGON", rings)
        return ("MULTIPOLYGON", polys)
    raise ValueError(f"unsupported WKT type {head!r}")


def _fmt(v: float) -> str:
    if v == int(v):
        return str(int(v))
    return repr(round(v, 10))


def to_wkt(g) -> str:
    t, c = g
    if t == "POINT":
        return f"POINT ({_fmt(c[0])} {_fmt(c[1])})"
    if t == "MULTIPOINT":
        return "MULTIPOINT (" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in c) + ")"
    if t == "LINESTRING":
        return "LINESTRING (" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in c) + ")"
    if t == "MULTILINESTRING":
        return "MULTILINESTRING (" + ", ".join(
            "(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts) + ")"
            for pts in c) + ")"
    if t == "POLYGON":
        return "POLYGON (" + ", ".join(
            "(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in ring) + ")" for ring in c
        ) + ")"
    if t == "MULTIPOLYGON":
        return "MULTIPOLYGON (" + ", ".join(
            "(" + ", ".join(
                "(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in ring) + ")"
                for ring in rings) + ")"
            for rings in c) + ")"
    if t == "GEOMETRYCOLLECTION":
        return "GEOMETRYCOLLECTION (" + ", ".join(to_wkt(m) for m in c) + ")"
    raise ValueError(t)


# ------------------------------------------------------------- WKB


_WKB_TYPES = {"POINT": 1, "LINESTRING": 2, "POLYGON": 3,
              "MULTIPOINT": 4, "MULTILINESTRING": 5, "MULTIPOLYGON": 6,
              "GEOMETRYCOLLECTION": 7}
_WKB_NAMES = {v: k for k, v in _WKB_TYPES.items()}


def to_wkb(g) -> bytes:
    t, c = g
    out = b"\x01" + struct.pack("<I", _WKB_TYPES[t])
    if t == "POINT":
        return out + struct.pack("<dd", *c)
    if t in ("LINESTRING", "MULTIPOINT"):
        body = struct.pack("<I", len(c))
        if t == "MULTIPOINT":
            for p in c:
                body += b"\x01" + struct.pack("<I", 1) + struct.pack("<dd", *p)
        else:
            for p in c:
                body += struct.pack("<dd", *p)
        return out + body
    if t == "POLYGON":
        body = struct.pack("<I", len(c))
        for ring in c:
            body += struct.pack("<I", len(ring))
            for p in ring:
                body += struct.pack("<dd", *p)
        return out + body
    if t == "MULTILINESTRING":
        body = struct.pack("<I", len(c))
        for pts in c:
            body += to_wkb(("LINESTRING", pts))
        return out + body
    if t == "MULTIPOLYGON":
        body = struct.pack("<I", len(c))
        for rings in c:
            body += to_wkb(("POLYGON", rings))
        return out + body
    if t == "GEOMETRYCOLLECTION":
        body = struct.pack("<I", len(c))
        for m in c:
            body += to_wkb(m)
        return out + body
    raise ValueError(t)


def from_wkb(b: bytes):
    def rd(pos):
        little = b[pos] == 1
        e = "<" if little else ">"
        typ = struct.unpack_from(e + "I", b, pos + 1)[0] & 0xFF
        pos += 5
        name = _WKB_NAMES[typ]
        if name == "POINT":
            x, y = struct.unpack_from(e + "dd", b, pos)
            return ("POINT", (x, y)), pos + 16
        if name == "LINESTRING":
            n = struct.unpack_from(e + "I", b, pos)[0]
            pos += 4
            pts = [struct.unpack_from(e + "dd", b, pos + 16 * i) for i in range(n)]
            return ("LINESTRING", pts), pos + 16 * n
        if name == "POLYGON":
            n = struct.unpack_from(e + "I", b, pos)[0]
            pos += 4
            rings = []
            for _ in range(n):
                m = struct.unpack_from(e + "I", b, pos)[0]
                pos += 4
                rings.append([struct.unpack_from(e + "dd", b, pos + 16 * i) for i in range(m)])
                pos += 16 * m
            return ("POLYGON", rings), pos
        if name in ("MULTIPOINT", "MULTILINESTRING", "MULTIPOLYGON"):
            n = struct.unpack_from(e + "I", b, pos)[0]
            pos += 4
            parts = []
            for _ in range(n):
                sub, pos = rd(pos)
                parts.append(sub[1])
            return (name, parts), pos
        if name == "GEOMETRYCOLLECTION":
            n = struct.unpack_from(e + "I", b, pos)[0]
            pos += 4
            parts = []
            for _ in range(n):
                sub, pos = rd(pos)
                parts.append(sub)
            return (name, parts), pos
        raise ValueError(name)

    g, _ = rd(0)
    return g


# -------------------------------------------------------- primitives


def _close(a, b) -> bool:
    return abs(a[0] - b[0]) <= _EPS and abs(a[1] - b[1]) <= _EPS


def _cross(o, a, b) -> float:
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def _on_segment(p, a, b) -> bool:
    if abs(_cross(a, b, p)) > _EPS * (1 + abs(p[0]) + abs(p[1])):
        return False
    return (min(a[0], b[0]) - _EPS <= p[0] <= max(a[0], b[0]) + _EPS
            and min(a[1], b[1]) - _EPS <= p[1] <= max(a[1], b[1]) + _EPS)


def _seg_intersection(a, b, c, d):
    """-> (dim, pts): dim -1 none, 0 point(s), 1 collinear overlap."""
    d1 = _cross(c, d, a)
    d2 = _cross(c, d, b)
    d3 = _cross(a, b, c)
    d4 = _cross(a, b, d)
    if ((d1 > _EPS and d2 < -_EPS) or (d1 < -_EPS and d2 > _EPS)) and \
       ((d3 > _EPS and d4 < -_EPS) or (d3 < -_EPS and d4 > _EPS)):
        t = d1 / (d1 - d2)
        return 0, [(a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1]))]
    pts = []
    if abs(d1) <= _EPS and abs(d2) <= _EPS and abs(d3) <= _EPS and abs(d4) <= _EPS:
        # collinear: project onto the major axis
        axis = 0 if abs(b[0] - a[0]) >= abs(b[1] - a[1]) else 1
        lo1, hi1 = sorted((a[axis], b[axis]))
        lo2, hi2 = sorted((c[axis], d[axis]))
        lo, hi = max(lo1, lo2), min(hi1, hi2)
        if hi - lo > _EPS:
            return 1, []
        if abs(hi - lo) <= _EPS:
            for p in (a, b):
                if _on_segment(p, c, d):
                    return 0, [p]
            return -1, []
        return -1, []
    for p, (s1, s2) in ((a, (c, d)), (b, (c, d)), (c, (a, b)), (d, (a, b))):
        if _on_segment(p, s1, s2):
            pts.append(p)
    if pts:
        return 0, pts[:1]
    return -1, []


def _point_in_ring(p, ring) -> int:
    """1 inside, 0 on boundary, -1 outside (even-odd)."""
    inside = False
    n = len(ring)
    for i in range(n):
        a, b = ring[i], ring[(i + 1) % n]
        if _close(a, b):
            continue
        if _on_segment(p, a, b):
            return 0
        if (a[1] > p[1]) != (b[1] > p[1]):
            xint = a[0] + (p[1] - a[1]) * (b[0] - a[0]) / (b[1] - a[1])
            if xint > p[0]:
                inside = not inside
    return 1 if inside else -1


def point_in_polygon(p, rings) -> int:
    """1 interior, 0 boundary, -1 exterior — holes honored."""
    loc = _point_in_ring(p, rings[0])
    if loc <= 0:
        return loc
    for hole in rings[1:]:
        h = _point_in_ring(p, hole)
        if h == 0:
            return 0
        if h == 1:
            return -1
    return 1


def _line_segments(pts):
    return [(pts[i], pts[i + 1]) for i in range(len(pts) - 1)
            if not _close(pts[i], pts[i + 1])]


def _point_on_line(p, pts) -> int:
    """1 interior, 0 boundary (endpoint), -1 off."""
    closed = _close(pts[0], pts[-1])
    if not closed and (_close(p, pts[0]) or _close(p, pts[-1])):
        return 0
    for a, b in _line_segments(pts):
        if _on_segment(p, a, b):
            return 1
    return -1


# ----------------------------------------------------------- DE-9IM


def _matrix_point_point(a, b):
    pa = [a[1]] if a[0] == "POINT" else list(a[1])
    pb = [b[1]] if b[0] == "POINT" else list(b[1])
    shared = any(_close(p, q) for p in pa for q in pb)
    a_only = any(not any(_close(p, q) for q in pb) for p in pa)
    b_only = any(not any(_close(p, q) for q in pa) for p in pb)
    return [["0" if shared else "F", "F", "0" if a_only else "F"],
            ["F", "F", "F"],
            ["0" if b_only else "F", "F", "2"]]


def _matrix_point_line(a, b):
    locs = [_point_on_line(p, b[1]) for p in ([a[1]] if a[0] == "POINT" else a[1])]
    ii = "0" if any(v == 1 for v in locs) else "F"
    ib = "0" if any(v == 0 for v in locs) else "F"
    ie = "0" if any(v == -1 for v in locs) else "F"
    closed = _close(b[1][0], b[1][-1])
    return [[ii, ib, ie], ["F", "F", "F"],
            ["1", "F" if closed else "0", "2"]]


def _matrix_point_polygon(a, b):
    rings = b[1] if b[0] == "POLYGON" else None
    pts = [a[1]] if a[0] == "POINT" else a[1]
    if b[0] == "MULTIPOLYGON":
        locs = []
        for p in pts:
            best = -1
            for rr in b[1]:
                v = point_in_polygon(p, rr)
                best = max(best, v)
            locs.append(best)
    else:
        locs = [point_in_polygon(p, rings) for p in pts]
    ii = "0" if any(v == 1 for v in locs) else "F"
    ib = "0" if any(v == 0 for v in locs) else "F"
    ie = "0" if any(v == -1 for v in locs) else "F"
    return [[ii, ib, ie], ["F", "F", "F"], ["2", "1", "2"]]


def _line_points_sample(pts, n=8):
    """Interior sample points along a linestring."""
    out = []
    for a, b in _line_segments(pts):
        for k in range(1, n):
            t = k / n
            out.append((a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1])))
    return out


def _matrix_line_line(a, b):
    pa, pb = a[1], b[1]
    ca, cb = _close(pa[0], pa[-1]), _close(pb[0], pb[-1])
    bnd_a = [] if ca else [pa[0], pa[-1]]
    bnd_b = [] if cb else [pb[0], pb[-1]]
    ii_dim = -1
    for s1 in _line_segments(pa):
        for s2 in _line_segments(pb):
            dim, _pts = _seg_intersection(s1[0], s1[1], s2[0], s2[1])
            ii_dim = max(ii_dim, dim)
    # refine: a 0-dim hit only at boundaries is not interior-interior
    def cell(points_a, on_b_fn):
        return any(on_b_fn(p) for p in points_a)

    interior_hit = False
    if ii_dim >= 0:
        # check a genuine interior-interior contact
        for p in _line_points_sample(pa) + [q for s in _line_segments(pa) for q in s]:
            if any(_close(p, e) for e in bnd_a):
                continue
            if _point_on_line(p, pb) == 1:
                interior_hit = True
                break
    ii = ("1" if ii_dim == 1 else "0") if interior_hit else "F"
    ib = "0" if any(_point_on_line(e, pa) == 1 for e in bnd_b) else "F"
    bi = "0" if any(_point_on_line(e, pb) == 1 for e in bnd_a) else "F"
    bb = "0" if any(_close(e1, e2) for e1 in bnd_a for e2 in bnd_b) else "F"
    # does a have interior outside b (and vice versa)?
    ie = "1" if any(_point_on_line(p, pb) == -1 for p in _line_points_sample(pa)) else "F"
    ei = "1" if any(_point_on_line(p, pa) == -1 for p in _line_points_sample(pb)) else "F"
    be = "0" if any(_point_on_line(e, pb) == -1 for e in bnd_a) else "F"
    eb = "0" if any(_point_on_line(e, pa) == -1 for e in bnd_b) else "F"
    return [[ii, ib, ie], [bi, bb, be], [ei, eb, "2"]]


def _matrix_polygon_polygon(a, b):
    ra = a[1] if a[0] == "POLYGON" else a[1][0]
    rb = b[1] if b[0] == "POLYGON" else b[1][0]
    locs_ab = [point_in_polygon(p, rb) for ring in ra for p in ring]
    locs_ba = [point_in_polygon(p, ra) for ring in rb for p in ring]
    edges_cross = False
    touch = False
    for ring_a in ra:
        for s1 in _line_segments(ring_a + ring_a[:1]):
            for ring_b in rb:
                for s2 in _line_segments(ring_b + ring_b[:1]):
                    dim, pts = _seg_intersection(s1[0], s1[1], s2[0], s2[1])
                    if dim == 0 and pts:
                        p = pts[0]
                        # crossing (proper) vs touching
                        if not (_on_segment(p, s1[0], s1[1]) and
                                (_close(p, s1[0]) or _close(p, s1[1]) or
                                 _close(p, s2[0]) or _close(p, s2[1]))):
                            edges_cross = True
                        else:
                            touch = True
                    elif dim == 1:
                        touch = True
    a_in_b = all(v >= 0 for v in locs_ab) and not edges_cross
    b_in_a = all(v >= 0 for v in locs_ba) and not edges_cross
    inter_nonempty = (edges_cross or any(v == 1 for v in locs_ab)
                      or any(v == 1 for v in locs_ba) or a_in_b or b_in_a)
    same = a_in_b and b_in_a
    ii = "2" if inter_nonempty else "F"
    ie = "F" if a_in_b else "2"
    ei = "F" if b_in_a else "2"
    ib = "1" if (edges_cross or (inter_nonempty and any(v == 0 for v in locs_ba))) and not a_in_b else (
        "1" if same and touch else ("F" if a_in_b and not touch else ("1" if edges_cross else "F")))
    bi = "1" if (edges_cross or (inter_nonempty and any(v == 0 for v in locs_ab))) and not b_in_a else (
        "1" if same and touch else "F")
    bb = "1" if (same or touch or edges_cross or any(v == 0 for v in locs_ab)
                 or any(v == 0 for v in locs_ba)) else "F"
    be = "F" if a_in_b else "1"
    eb = "F" if b_in_a else "1"
    return [[ii, ib, ie], [bi, bb, be], [ei, eb, "2"]]


def _loc_in_polys(p, polys) -> int:
    """1 interior, 0 boundary, -1 exterior of a set of polygons."""
    best = -1
    for rings in polys:
        best = max(best, point_in_polygon(p, rings))
    return best


def _matrix_line_polygon(a, b):
    """DE-9IM for LINESTRING vs POLYGON/MULTIPOLYGON via exact segment
    splitting: every line fragment between boundary contacts lies
    wholly in one polygon part, so midpoint classification is exact."""
    polys = b[1] if b[0] == "MULTIPOLYGON" else [b[1]]
    pts = a[1]
    closed = _close(pts[0], pts[-1])
    bnd = [] if closed else [pts[0], pts[-1]]
    outside, inside = _line_split_by_polys(pts, polys)
    on_bnd = [
        s for s in inside
        if _loc_in_polys(((s[0][0] + s[1][0]) / 2, (s[0][1] + s[1][1]) / 2), polys) == 0
    ]
    strictly_in = len(inside) > len(on_bnd)
    # isolated interior∩boundary contacts: fragment endpoints on the
    # polygon boundary that are not the line's own endpoints
    touch_pts = [
        e for s in inside + outside for e in s
        if _loc_in_polys(e, polys) == 0 and not any(_close(e, q) for q in bnd)
    ]
    ii = "1" if strictly_in else "F"
    ib = "1" if on_bnd else ("0" if touch_pts else "F")
    ie = "1" if outside else "F"
    if closed:
        bi = bb = be = "F"
    else:
        locs = [_loc_in_polys(e, polys) for e in bnd]
        bi = "0" if any(v == 1 for v in locs) else "F"
        bb = "0" if any(v == 0 for v in locs) else "F"
        be = "0" if any(v == -1 for v in locs) else "F"
    # exterior(a) ∩ boundary(b): "F" only when the line covers the
    # WHOLE polygon boundary (e.g. a closed linestring that rides the
    # ring exactly) — split each boundary edge at line contacts and
    # look for any fragment midpoint off the line.
    line_edges = _line_segments(pts)
    eb = "F"
    for p0, q0 in _poly_edges(polys):
        frags = _split_edge(p0, q0, line_edges) or [(p0, q0)]
        if any(not any(_on_segment(((fa[0] + fb[0]) / 2, (fa[1] + fb[1]) / 2),
                                   la, lb) for la, lb in line_edges)
               for fa, fb in frags):
            eb = "1"
            break
    return [[ii, ib, ie], [bi, bb, be], ["2", eb, "2"]]


def _transpose(m):
    return [[m[c][r] for c in range(3)] for r in range(3)]


_DIMS = {"POINT": 0, "MULTIPOINT": 0, "LINESTRING": 1,
         "MULTILINESTRING": 1, "POLYGON": 2, "MULTIPOLYGON": 2}


def _gc_components(g):
    if g[0] == "GEOMETRYCOLLECTION":
        out = []
        for m in g[1]:
            out.extend(_gc_components(m))
        return out
    if g[0] == "MULTILINESTRING":
        return [("LINESTRING", pts) for pts in g[1]]
    return [g]


def _dim_interior(g) -> int:
    return _DIMS[g[0]]


_RANK = {"F": -1, "0": 0, "1": 1, "2": 2}
_CELL = {v: k for k, v in _RANK.items()}


def _dim_boundary(g) -> int:
    """Dimension of the boundary set; -1 = empty (F)."""
    t = g[0]
    if t in ("POINT", "MULTIPOINT"):
        return -1
    if t == "LINESTRING":
        return -1 if _close(g[1][0], g[1][-1]) else 0
    return 1  # polygon rings


def _pair_disjoint(m) -> bool:
    """True when the geometries behind matrix m have empty intersection
    (all interior/boundary cells F)."""
    return all(m[r][c] == "F" for r in (0, 1) for c in (0, 1))


def _gc_de9im(a, b):
    """DE-9IM when either operand is a GEOMETRYCOLLECTION, by
    decomposition. Exact under two conditions this checks (and gates by
    name otherwise): a collection's own components are pairwise
    disjoint (the shape our mixed-dimension overlay ops emit), and each
    component intersects at most ONE component of the other operand —
    then every exterior cell reduces to a per-partner cell because the
    rest of the other side cannot reach it."""
    A = _gc_components(a)
    B = _gc_components(b)
    for parts in (A, B):
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                if not _pair_disjoint(de9im(parts[i], parts[j])):
                    raise NotImplementedError(
                        "DE-9IM over GEOMETRYCOLLECTION with overlapping"
                        " components")
    M = [[de9im(ai, bj) for bj in B] for ai in A]
    for i, ai in enumerate(A):
        if sum(0 if _pair_disjoint(M[i][j]) else 1 for j in range(len(B))) > 1:
            raise NotImplementedError(
                "DE-9IM: a GEOMETRYCOLLECTION component intersecting"
                " multiple components of the other operand")
    for j in range(len(B)):
        if sum(0 if _pair_disjoint(M[i][j]) else 1 for i in range(len(A))) > 1:
            raise NotImplementedError(
                "DE-9IM: a GEOMETRYCOLLECTION component intersecting"
                " multiple components of the other operand")

    out = [[-1] * 3 for _ in range(3)]
    # interior/boundary-vs-interior/boundary: max over all pairs
    for r in (0, 1):
        for c in (0, 1):
            out[r][c] = max(_RANK[M[i][j][r][c]]
                            for i in range(len(A)) for j in range(len(B)))
    # X(A) ∩ E(B): per component, either untouched (full dimension) or
    # the part outside its single partner
    for r, dim_of in ((0, _dim_interior), (1, _dim_boundary)):
        best = -1
        for i in range(len(A)):
            partners = [j for j in range(len(B))
                        if not _pair_disjoint(M[i][j])]
            if not partners:
                best = max(best, dim_of(A[i]))
            else:
                best = max(best, _RANK[M[i][partners[0]][r][2]])
        out[r][2] = best
    for c, dim_of in ((0, _dim_interior), (1, _dim_boundary)):
        best = -1
        for j in range(len(B)):
            partners = [i for i in range(len(A))
                        if not _pair_disjoint(M[i][j])]
            if not partners:
                best = max(best, dim_of(B[j]))
            else:
                best = max(best, _RANK[M[partners[0]][j][2][c]])
        out[2][c] = best
    out[2][2] = 2
    return [[_CELL[v] for v in row] for row in out]


def de9im(a, b):
    """DE-9IM matrix (rows = parts of a, cols = parts of b)."""
    if a[0] in ("GEOMETRYCOLLECTION", "MULTILINESTRING") \
            or b[0] in ("GEOMETRYCOLLECTION", "MULTILINESTRING"):
        return _gc_de9im(a, b)
    ta, tb = _DIMS[a[0]], _DIMS[b[0]]
    if ta == 0 and tb == 0:
        return _matrix_point_point(a, b)
    if ta == 0 and tb == 1:
        return _matrix_point_line(a, b)
    if ta == 1 and tb == 0:
        return _transpose(_matrix_point_line(b, a))
    if ta == 0 and tb == 2:
        return _matrix_point_polygon(a, b)
    if ta == 2 and tb == 0:
        return _transpose(_matrix_point_polygon(b, a))
    if ta == 1 and tb == 1:
        return _matrix_line_line(a, b)
    if ta == 1 and tb == 2:
        return _matrix_line_polygon(a, b)
    if ta == 2 and tb == 1:
        return _transpose(_matrix_line_polygon(b, a))
    if ta == 2 and tb == 2:
        return _matrix_polygon_polygon(a, b)
    raise NotImplementedError(f"DE-9IM for {a[0]} vs {b[0]}")


def relate(a, b, pattern: str) -> bool:
    m = de9im(a, b)
    flat = "".join("".join(row) for row in m)
    for got, want in zip(flat, pattern.upper()):
        if want == "*":
            continue
        if want == "T":
            if got == "F":
                return False
        elif got != want:
            return False
    return True


def intersects(a, b) -> bool:
    m = de9im(a, b)
    return any(m[r][c] != "F" for r in (0, 1) for c in (0, 1))


def disjoint(a, b) -> bool:
    return not intersects(a, b)


def touches(a, b) -> bool:
    m = de9im(a, b)
    if m[0][0] != "F":
        return False
    return any(m[r][c] != "F" for r, c in ((0, 1), (1, 0), (1, 1)))


def contains(a, b) -> bool:
    m = de9im(a, b)
    return m[0][0] != "F" and m[2][0] == "F" and m[2][1] == "F"


def within(a, b) -> bool:
    return contains(b, a)


def equals(a, b) -> bool:
    if _DIMS[a[0]] != _DIMS[b[0]]:
        return False
    if _DIMS[a[0]] == 1:
        # topological equality for lines: same point set — every
        # interior sample of each lies on the other and endpoints match
        ea = [a[1][0], a[1][-1]]
        eb = [b[1][0], b[1][-1]]
        ends_match = all(any(_close(p, q) for q in eb) for p in ea)
        return (ends_match
                and all(_point_on_line(p, b[1]) >= 0 for p in _line_points_sample(a[1]))
                and all(_point_on_line(p, a[1]) >= 0 for p in _line_points_sample(b[1])))
    return contains(a, b) and contains(b, a)


def crosses(a, b) -> bool:
    m = de9im(a, b)
    da, db = _DIMS[a[0]], _DIMS[b[0]]
    if da == db == 1:
        return m[0][0] == "0"
    if da < db:
        return m[0][0] != "F" and m[0][2] != "F"
    if da > db:
        return m[0][0] != "F" and m[2][0] != "F"
    return False


def overlaps(a, b) -> bool:
    m = de9im(a, b)
    da, db = _DIMS[a[0]], _DIMS[b[0]]
    if da != db:
        return False
    if da == 1:
        return m[0][0] == "1" and m[0][2] != "F" and m[2][0] != "F"
    return m[0][0] != "F" and m[0][2] != "F" and m[2][0] != "F"


# -------------------------------------------------- polygon clipping
#
# Boolean ops (union / intersection / difference) over POLYGON and
# MULTIPOLYGON via overlay subdivision: split every edge of each
# operand at its intersections with the other, classify each fragment
# by probing just off both of its sides against the result predicate,
# keep the fragments where the predicate flips (those ARE the result
# boundary), orient them interior-left, and stitch rings back together
# with a sharpest-left-turn walk. Handles crossing, containment,
# shared-edge and touching cases — the degeneracies that break
# textbook Greiner-Hormann — because classification never depends on
# intersection bookkeeping, only on point-in-polygon probes.
# (The reference gets these from the ESRI geometry library's
# OperatorUnion/OperatorDifference — STUnion.java:34,
# STUnionAggregate.java:38, STDifference.java.)


def _rings_of(g):
    if g[0] == "POLYGON":
        return [g[1]]
    if g[0] == "MULTIPOLYGON":
        return list(g[1])
    raise ValueError(f"polygon operand expected, got {g[0]}")


def _ring_area(ring) -> float:
    s = 0.0
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return s / 2.0


def _poly_edges(polys):
    """All directed edges of a list of polygons (each = list of rings)."""
    out = []
    for rings in polys:
        for ring in rings:
            pts = ring if _close(ring[0], ring[-1]) else ring + [ring[0]]
            out.extend(_line_segments(pts))
    return out


def _strictly_inside(p, polys) -> bool:
    return any(point_in_polygon(p, rings) == 1 for rings in polys)


def _split_edge(p, q, other_edges):
    """Split edge (p, q) at every contact with ``other_edges``;
    returns the ordered list of sub-segments."""
    dx, dy = q[0] - p[0], q[1] - p[1]
    L2 = dx * dx + dy * dy
    if L2 <= _EPS * _EPS:
        return []

    def t_of(pt):
        return ((pt[0] - p[0]) * dx + (pt[1] - p[1]) * dy) / L2

    ts = [0.0, 1.0]
    for c, d in other_edges:
        dim, pts = _seg_intersection(p, q, c, d)
        if dim == 0:
            ts.extend(t_of(pt) for pt in pts)
        # collinear overlap: the other edge's endpoints are the cuts
        for e in (c, d):
            if _on_segment(e, p, q):
                ts.append(t_of(e))
    ts = sorted(min(1.0, max(0.0, t)) for t in ts)
    segs = []
    prev = ts[0]
    for t in ts[1:]:
        if t - prev > 1e-12:
            a = (p[0] + prev * dx, p[1] + prev * dy)
            b = (p[0] + t * dx, p[1] + t * dy)
            if not _close(a, b):
                segs.append((a, b))
        prev = max(prev, t)
    return segs


def _overlay(a_polys, b_polys, keep):
    """Generic polygon overlay: ``keep(in_a, in_b)`` is the result
    predicate (e.g. OR for union). Returns POLYGON / MULTIPOLYGON / None
    (empty result)."""
    ea, eb = _poly_edges(a_polys), _poly_edges(b_polys)
    pts_all = [pt for e in ea + eb for pt in e]
    scale = max(
        max(abs(p[0]) for p in pts_all) + max(abs(p[1]) for p in pts_all), 1.0
    )
    delta = 1e-7 * scale

    frags = []
    for p, q in ea:
        frags.extend(_split_edge(p, q, eb))
    for p, q in eb:
        frags.extend(_split_edge(p, q, ea))

    def result_at(pt):
        return keep(_strictly_inside(pt, a_polys), _strictly_inside(pt, b_polys))

    kept = {}
    for u, v in frags:
        mx, my = (u[0] + v[0]) / 2, (u[1] + v[1]) / 2
        ddx, ddy = v[0] - u[0], v[1] - u[1]
        ln = math.hypot(ddx, ddy)
        nx, ny = -ddy / ln, ddx / ln
        left = result_at((mx + nx * delta, my + ny * delta))
        right = result_at((mx - nx * delta, my - ny * delta))
        if left == right:
            continue  # interior or exterior edge — not a result boundary
        if not left:
            u, v = v, u  # orient interior-left
        key = (round(u[0] / delta), round(u[1] / delta),
               round(v[0] / delta), round(v[1] / delta))
        kept[key] = (u, v)  # dedupes the doubled shared-boundary fragments

    if not kept:
        # no boundary at all: result is everything or nothing
        probe = a_polys[0][0][0]
        return ("POLYGON", a_polys[0]) if result_at(probe) else None

    # stitch fragments into rings: walk, at junctions take the sharpest
    # left turn (keeps the same face on the left through pinch vertices)
    def pkey(p):
        return (round(p[0] / delta), round(p[1] / delta))

    out_of = {}
    for u, v in kept.values():
        out_of.setdefault(pkey(u), []).append((u, v))
    rings = []
    for start_key in list(out_of):
        while out_of.get(start_key):
            u, v = out_of[start_key].pop()
            ring = [u, v]
            guard = len(kept) + 2
            while pkey(ring[-1]) != pkey(ring[0]) and guard:
                guard -= 1
                cands = out_of.get(pkey(ring[-1])) or []
                if not cands:
                    ring = None
                    break
                din = math.atan2(ring[-1][1] - ring[-2][1], ring[-1][0] - ring[-2][0])
                best_i, best_turn = 0, -1.0
                for i, (cu, cv) in enumerate(cands):
                    dout = math.atan2(cv[1] - cu[1], cv[0] - cu[0])
                    # CCW angle from the reversed incoming direction
                    turn = (dout - (din + math.pi)) % (2 * math.pi)
                    if turn > best_turn:
                        best_i, best_turn = i, turn
                _, nv = cands.pop(best_i)
                ring.append(nv)
            if ring and len(ring) > 3:
                ring[-1] = ring[0]
                rings.append(ring)

    outers = [r for r in rings if _ring_area(r) > 0]
    holes = [r for r in rings if _ring_area(r) < 0]
    if not outers:
        return None
    polys = [[o] for o in outers]
    for h in holes:
        # attach to the innermost (smallest) outer ring containing it
        inside = [i for i, o in enumerate(outers)
                  if point_in_polygon(h[0], [o]) >= 0]
        if inside:
            tgt = min(inside, key=lambda i: abs(_ring_area(outers[i])))
            polys[tgt].append(h)
    if len(polys) == 1:
        return ("POLYGON", polys[0])
    return ("MULTIPOLYGON", polys)


# ----------------------------------------------------------- ops


def _line_split_by_polys(pts, polys):
    """Split a linestring's segments at polygon boundaries and bucket
    them by position: returns (outside_segs, inside_segs); boundary-
    riding segments count as inside (closed polygons)."""
    edges = _poly_edges(polys)
    outside, inside = [], []
    for p, q in _line_segments(pts):
        for a, b in _split_edge(p, q, edges):
            m = ((a[0] + b[0]) / 2, (a[1] + b[1]) / 2)
            if any(point_in_polygon(m, rings) >= 0 for rings in polys):
                inside.append((a, b))
            else:
                outside.append((a, b))
    return outside, inside


def _stitch_segments(segs):
    """Chain consecutive segments (end == next start) back into
    linestrings; returns a list of point lists."""
    lines = []
    cur = []
    for a, b in segs:
        if cur and _close(cur[-1], a):
            cur.append(b)
        else:
            if len(cur) >= 2:
                lines.append(cur)
            cur = [a, b]
    if len(cur) >= 2:
        lines.append(cur)
    return lines


def _collection_or_single(members):
    flat = []
    for m in members:
        if m is None:
            continue
        if m[0] == "GEOMETRYCOLLECTION":
            flat.extend(m[1])  # no nested collections in results
        else:
            flat.append(m)
    if not flat:
        return None
    if len(flat) == 1:
        return flat[0]
    return ("GEOMETRYCOLLECTION", flat)


def buffer(g, dist: float, segments: int = 32):
    """Buffer via n-gon circles (the reference's ESRI buffer is an
    arc-refined circle; a 32-gon matches all boolean semantics).
    Points buffer to a circle; linestrings and polygons buffer as the
    union of per-segment capsules (+ the polygon body) through the
    clipping kernel.

    Negative distances erode polygons: the result is the polygon MINUS
    the union of radius-|d| capsules along its boundary — the set of
    interior points at distance >= |d| from the boundary (exact for
    convex corners, n-gon-approximate on concave arcs), matching the
    ESRI/GEOS negative-buffer semantics the reference exposes through
    STBuffer.java:36. Over-erosion returns None (empty); points and
    lines erode to empty."""
    r = abs(dist)
    if dist < 0 and g[0] not in ("POLYGON", "MULTIPOLYGON"):
        return None  # zero-width geometries have no interior to erode

    def circle(x, y):
        ring = [
            (x + r * math.cos(2 * math.pi * i / segments),
             y + r * math.sin(2 * math.pi * i / segments))
            for i in range(segments)
        ]
        ring.append(ring[0])
        return ("POLYGON", [ring])

    if g[0] == "POINT":
        return circle(*g[1])
    if g[0] == "MULTIPOINT":
        out = circle(*g[1][0])
        for p in g[1][1:]:
            out = union(out, circle(*p))
        return out

    def capsule(a, b):
        """Stadium polygon around segment a->b: two tangent sides plus
        half-circle caps."""
        th = math.atan2(b[1] - a[1], b[0] - a[0])
        ring = []
        half = segments // 2
        for i in range(half + 1):  # cap around b: th-90 .. th+90
            ang = th - math.pi / 2 + math.pi * i / half
            ring.append((b[0] + r * math.cos(ang), b[1] + r * math.sin(ang)))
        for i in range(half + 1):  # cap around a: th+90 .. th+270
            ang = th + math.pi / 2 + math.pi * i / half
            ring.append((a[0] + r * math.cos(ang), a[1] + r * math.sin(ang)))
        ring.append(ring[0])
        return ("POLYGON", [ring])

    if g[0] in ("LINESTRING", "MULTILINESTRING"):
        lines = [g[1]] if g[0] == "LINESTRING" else g[1]
        out = None
        for pts in lines:
            for s in _line_segments(pts):
                cap = capsule(*s)
                out = cap if out is None else union(out, cap)
        return out
    if g[0] in ("POLYGON", "MULTIPOLYGON"):
        if dist < 0:
            ribbon = None
            for p, q in _poly_edges(_rings_of(g)):
                ribbon = capsule(p, q) if ribbon is None else union(ribbon, capsule(p, q))
            return difference(g, ribbon)
        out = (g[0], g[1])
        for p, q in _poly_edges(_rings_of(g)):
            out = union(out, capsule(p, q))
        return out
    raise NotImplementedError(f"buffer of {g[0]}")


def union(a, b):
    """Geometry union. Polygon/multipolygon pairs go through the
    clipping kernel (STUnion.java:34 semantics); point unions stay
    direct. Mixed-dimension unions follow the GEOS shape: the
    lower-dimension operand is clipped to its part OUTSIDE the
    polygon(s) and the result is a GEOMETRYCOLLECTION (or just the
    polygon when the other operand lies within it)."""
    if a is None:
        return b
    if b is None:
        return a
    if "GEOMETRYCOLLECTION" in (a[0], b[0]):
        # fold: union the 2D parts through the kernel, clip the rest
        # against them (lower-dim parts are kept as-is relative to each
        # other — collections stay non-normalized across members)
        parts = (list(a[1]) if a[0] == "GEOMETRYCOLLECTION" else [a]) + \
                (list(b[1]) if b[0] == "GEOMETRYCOLLECTION" else [b])
        poly = None
        rest = []
        for p in parts:
            if _DIMS.get(p[0]) == 2:
                poly = p if poly is None else union(poly, p)
            else:
                rest.append(p)
        if poly is not None:
            rest = [difference(r, poly) for r in rest]
        return _collection_or_single(rest + ([poly] if poly else []))
    if _DIMS.get(a[0]) == 2 and _DIMS.get(b[0]) == 2:
        return _overlay(_rings_of(a), _rings_of(b), lambda x, y: x or y)
    if a[0] != "GEOMETRYCOLLECTION" and b[0] != "GEOMETRYCOLLECTION":
        if contains(a, b):
            return a
        if contains(b, a):
            return b
        if disjoint(a, b):
            if a[0] == "POINT" and b[0] == "POINT":
                return ("MULTIPOINT", [a[1], b[1]])
            if a[0] == "MULTIPOINT" and b[0] == "POINT":
                return ("MULTIPOINT", list(a[1]) + [b[1]])
        # mixed dimension, overlapping, neither contains the other
        lo, hi = (a, b) if _DIMS[a[0]] < _DIMS[b[0]] else (b, a)
        if _DIMS[hi[0]] == 2:
            rest = difference(lo, hi)  # part of the low-dim operand outside
            return _collection_or_single([rest, hi])
    raise NotImplementedError(f"union of {a[0]} and {b[0]}")


def intersection(a, b):
    """Intersection through the clipping kernel for polygon pairs;
    point/line vs polygon clip directly. None = empty."""
    da, db = _DIMS.get(a[0]), _DIMS.get(b[0])
    if da == 2 and db == 2:
        return _overlay(_rings_of(a), _rings_of(b), lambda x, y: x and y)
    if da is not None and db is not None and da != db and 2 in (da, db):
        lo, poly = (a, b) if da < db else (b, a)
        polys = _rings_of(poly)
        if lo[0] == "POINT":
            return lo if any(point_in_polygon(lo[1], r) >= 0 for r in polys) else None
        if lo[0] == "MULTIPOINT":
            kept = [p for p in lo[1]
                    if any(point_in_polygon(p, r) >= 0 for r in polys)]
            if not kept:
                return None
            return ("POINT", kept[0]) if len(kept) == 1 else ("MULTIPOINT", kept)
        if lo[0] == "LINESTRING":
            _, inside = _line_split_by_polys(lo[1], polys)
            return _collection_or_single(
                [("LINESTRING", pts) for pts in _stitch_segments(inside)])
    raise NotImplementedError(f"intersection of {a[0]} and {b[0]}")


def difference(a, b):
    """a minus b (STDifference.java semantics); None = empty result.
    Point/line minus polygon keeps the part strictly outside."""
    da, db = _DIMS.get(a[0]), _DIMS.get(b[0])
    if da == 2 and db == 2:
        return _overlay(_rings_of(a), _rings_of(b), lambda x, y: x and not y)
    if da is not None and da < 2 and db == 2:
        polys = _rings_of(b)
        if a[0] == "POINT":
            return None if any(point_in_polygon(a[1], r) >= 0 for r in polys) else a
        if a[0] == "MULTIPOINT":
            kept = [p for p in a[1]
                    if not any(point_in_polygon(p, r) >= 0 for r in polys)]
            if not kept:
                return None
            return ("POINT", kept[0]) if len(kept) == 1 else ("MULTIPOINT", kept)
        if a[0] == "LINESTRING":
            outside, _ = _line_split_by_polys(a[1], polys)
            return _collection_or_single(
                [("LINESTRING", pts) for pts in _stitch_segments(outside)])
    if a[0] != "GEOMETRYCOLLECTION" and b[0] != "GEOMETRYCOLLECTION" \
            and disjoint(a, b):
        return a
    raise NotImplementedError(f"difference of {a[0]} and {b[0]}")


def union_all(geoms):
    """Fold union over geometries (ST_UnionAggregate,
    STUnionAggregate.java:38)."""
    out = None
    for g in geoms:
        if g is not None:
            out = g if out is None else union(out, g)
    return out


def transform_geom(g, srid_src: int, srid_tgt: int):
    """Reproject every coordinate (STTransform.java:37 semantics — the
    reference maps each vertex through proj4j; ops/crs.py implements
    the same published projection math closed-form)."""
    from drill_spark.ops.crs import CrsTransform

    tr = CrsTransform(int(srid_src), int(srid_tgt))
    t, c = g
    if t == "POINT":
        return (t, tr(*c))
    if t in ("MULTIPOINT", "LINESTRING"):
        return (t, [tr(*p) for p in c])
    if t == "POLYGON":
        return (t, [[tr(*p) for p in ring] for ring in c])
    if t == "MULTIPOLYGON":
        return (t, [[[tr(*p) for p in ring] for ring in rings] for rings in c])
    raise ValueError(t)


def envelope(g):
    xs, ys = zip(*_all_points(g))
    x0, x1, y0, y1 = min(xs), max(xs), min(ys), max(ys)
    return ("POLYGON", [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]])


def _all_points(g):
    t, c = g
    if t == "POINT":
        return [c]
    if t in ("MULTIPOINT", "LINESTRING"):
        return list(c)
    if t == "MULTILINESTRING":
        return [p for pts in c for p in pts]
    if t == "GEOMETRYCOLLECTION":
        return [p for m in c for p in _all_points(m)]
    if t == "POLYGON":
        return [p for ring in c for p in ring]
    if t == "MULTIPOLYGON":
        return [p for rings in c for ring in rings for p in ring]
    raise ValueError(t)


def extrema(g):
    xs, ys = zip(*_all_points(g))
    return min(xs), max(xs), min(ys), max(ys)


def as_json(g, wkid: int = 4326) -> str:
    """ESRI JSON, the reference's ST_AsJson output shape."""
    if g[0] != "POINT":
        raise NotImplementedError("ST_AsJson beyond points")
    x, y = g[1]
    return (f'{{"x":{_fmt(x)},"y":{_fmt(y)},'
            f'"spatialReference":{{"wkid":{wkid}}}}}')


def as_geojson(g, srid: int = 4326) -> str:
    """GeoJSON with the legacy crs member, the reference's output."""
    t, c = g
    crs = (f',"crs":{{"type":"name","properties":{{"name":"EPSG:{srid}"}}}}')
    if t == "POINT":
        coords = f"[{_fmt(c[0])},{_fmt(c[1])}]"
    elif t == "LINESTRING":
        coords = "[" + ",".join(f"[{_fmt(x)},{_fmt(y)}]" for x, y in c) + "]"
    elif t == "POLYGON":
        coords = "[" + ",".join(
            "[" + ",".join(f"[{_fmt(x)},{_fmt(y)}]" for x, y in ring) + "]"
            for ring in c) + "]"
    else:
        raise NotImplementedError(f"GeoJSON for {t}")
    name = {"POINT": "Point", "LINESTRING": "LineString", "POLYGON": "Polygon"}[t]
    return f'{{"type":"{name}","coordinates":{coords}{crs}}}'
