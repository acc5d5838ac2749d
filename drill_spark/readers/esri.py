"""ESRI Shapefile format reader — geospatial tables, no external libs.

Drill reference: contrib/format-esri (store/esri/ShpBatchReader.java)
emits one row per shape with ``gid``, ``srid`` (regexed out of the
``.prj`` WKT authority clause), ``shapeType``, ``geom`` (OGC WKB
bytes), plus one column per ``.dbf`` attribute typed CHAR→string,
NUMERIC(dec=0)→integral, NUMERIC/FLOAT→double, DATE→date,
LOGICAL→boolean. This module reproduces that surface from the public
specs alone: the ESRI Shapefile Technical Description (1998) for
``.shp`` and the dBase III/IV layout for ``.dbf``; geometry goes out
as standard little-endian OGC WKB so any WKB consumer can decode it.

Differences from the reference, on purpose:
- integral NUMERIC columns widen to BIGINT (the reference casts to
  int; dbf N fields hold up to 18 digits);
- dates stay DATE (the reference converts to epoch-millis TIMESTAMP);
- Z/M shape variants (PointZ, PolyLineZ, ...) read their XY data and
  drop the Z/M measures; multi-ring polygons emit one WKB Polygon
  with N rings (outer/inner ring re-grouping into MultiPolygon needs
  ring-orientation analysis — out of scope, noted here).

Spark-first shape (same as readers/pcap.py): the driver reads ONE
``.dbf`` header to fix the attribute schema, then a ``mapInPandas``
over the file list decodes each ``.shp``/``.dbf``/``.prj`` triple
inside executors, Arrow-batching rows out. A shapefile has no
internal split points (variable-length records, index in ``.shx``),
so the file is the natural parallelism unit — exactly the
reference's one-ShpBatchReader-per-file granularity.
"""

from __future__ import annotations

import datetime
import os
import re
import struct

from pyspark.sql import DataFrame, SparkSession

from drill_spark.readers.formats import list_files, scan_files

_SRID_RE = re.compile(r"AUTHORITY\[\"\w+\"\s*,\s*\"*(\d+)\"*\]\]$")

_SHAPE_NAMES = {
    0: "Null", 1: "Point", 3: "Polyline", 5: "Polygon", 8: "MultiPoint",
    11: "Point", 13: "Polyline", 15: "Polygon", 18: "MultiPoint",
    21: "Point", 23: "Polyline", 25: "Polygon", 28: "MultiPoint",
}


# ------------------------------------------------------------------- dbf

def parse_dbf_header(data: bytes) -> tuple[list[tuple[str, str, int, int]], int, int, int]:
    """-> (fields [(name, type, length, decimals)], n_records,
    header_size, record_size)."""
    if len(data) < 32:
        raise ValueError("truncated dbf header")
    n_records = struct.unpack_from("<I", data, 4)[0]
    header_size, record_size = struct.unpack_from("<HH", data, 8)
    fields = []
    pos = 32
    while pos < header_size - 1 and data[pos] != 0x0D:
        name = data[pos : pos + 11].split(b"\x00", 1)[0].decode("ascii", "replace")
        ftype = chr(data[pos + 11])
        flen = data[pos + 16]
        fdec = data[pos + 17]
        fields.append((name, ftype, flen, fdec))
        pos += 32
    return fields, n_records, header_size, record_size


def _dbf_value(raw: bytes, ftype: str, fdec: int):
    txt = raw.decode("latin-1").strip()
    if not txt or set(txt) <= {"*", "?"}:
        return None
    if ftype == "C":
        return txt
    if ftype in ("N", "F"):
        try:
            if ftype == "N" and fdec == 0 and "." not in txt:
                return int(txt)
            return float(txt)
        except ValueError:
            return None
    if ftype == "D":
        try:
            return datetime.date(int(txt[0:4]), int(txt[4:6]), int(txt[6:8]))
        except ValueError:
            return None
    if ftype == "L":
        if txt in "TtYy":
            return True
        if txt in "FfNn":
            return False
        return None
    return txt  # unknown types pass through as text


def decode_dbf(data: bytes) -> list[dict]:
    fields, n_records, header_size, record_size = parse_dbf_header(data)
    rows = []
    pos = header_size
    for _ in range(n_records):
        if pos + record_size > len(data):
            break
        rec = data[pos : pos + record_size]
        pos += record_size
        if rec[0:1] == b"*":  # deleted record
            continue
        row, off = {}, 1
        for name, ftype, flen, fdec in fields:
            row[name] = _dbf_value(rec[off : off + flen], ftype, fdec)
            off += flen
        rows.append(row)
    return rows


# ------------------------------------------------------------------- shp

def _wkb_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, 1, x, y)


def _wkb_coords(pts: list[tuple[float, float]]) -> bytes:
    return struct.pack("<I", len(pts)) + b"".join(struct.pack("<dd", x, y) for x, y in pts)


def _shape_to_wkb(stype: int, body: bytes) -> bytes | None:
    """One .shp record body (after the record's shape-type int) -> WKB."""
    base = stype % 10 if stype > 10 else stype  # Z (+10/+11..) and M (+20..) variants share XY layout
    if stype == 0:
        return None
    if base == 1:  # Point / PointZ / PointM: x, y first
        x, y = struct.unpack_from("<dd", body, 0)
        return _wkb_point(x, y)
    if base == 8:  # MultiPoint: bbox, n, points
        n = struct.unpack_from("<i", body, 32)[0]
        pts = list(struct.iter_unpack("<dd", body[36 : 36 + 16 * n]))
        return struct.pack("<BII", 1, 4, n) + b"".join(_wkb_point(x, y) for x, y in pts)
    if base in (3, 5):  # PolyLine / Polygon: bbox, nParts, nPoints, parts, points
        n_parts, n_points = struct.unpack_from("<ii", body, 32)
        parts = list(struct.unpack_from(f"<{n_parts}i", body, 40))
        coords_off = 40 + 4 * n_parts
        pts = list(struct.iter_unpack("<dd", body[coords_off : coords_off + 16 * n_points]))
        bounds = parts + [n_points]
        rings = [pts[bounds[i] : bounds[i + 1]] for i in range(n_parts)]
        if base == 5:  # Polygon: all rings in one WKB polygon
            return (
                struct.pack("<BII", 1, 3, len(rings))
                + b"".join(_wkb_coords(r) for r in rings)
            )
        if len(rings) == 1:  # LineString
            return struct.pack("<BI", 1, 2) + _wkb_coords(rings[0])
        return (  # MultiLineString
            struct.pack("<BII", 1, 5, len(rings))
            + b"".join(struct.pack("<BI", 1, 2) + _wkb_coords(r) for r in rings)
        )
    raise NotImplementedError(f"shapefile shape type {stype}")


def decode_shp(data: bytes) -> list[tuple[int, str, bytes | None]]:
    """One .shp file -> [(gid, shapeType, wkb)]. gid is the record
    number (1-based, as the reference's geometry IDs)."""
    if len(data) < 100 or struct.unpack_from(">i", data, 0)[0] != 9994:
        raise ValueError("not a shapefile (bad magic)")
    out = []
    pos = 100
    while pos + 8 <= len(data):
        recno, content_words = struct.unpack_from(">ii", data, pos)
        pos += 8
        body = data[pos : pos + content_words * 2]
        pos += content_words * 2
        stype = struct.unpack_from("<i", body, 0)[0]
        out.append((recno, _SHAPE_NAMES.get(stype, str(stype)), _shape_to_wkb(stype, body[4:])))
    return out


def read_srid(prj_path: str) -> int:
    if not os.path.exists(prj_path):
        return 0
    with open(prj_path) as f:
        m = _SRID_RE.search(f.read().strip())
    return int(m.group(1)) if m else 0


# ------------------------------------------------------------------ read

def _spark_field(name: str, ftype: str, fdec: int) -> str:
    t = {"C": "string", "D": "date", "L": "boolean"}.get(ftype)
    if t is None:
        t = "bigint" if ftype == "N" and fdec == 0 else "double"
    return f"`{name}` {t}"


def read_shp(spark: SparkSession, path: str) -> DataFrame:
    """Distributed shapefile read: mapInPandas over the .shp file list;
    column surface = ShpBatchReader.java (gid/srid/shapeType/geom +
    dbf attributes)."""
    import pandas as pd

    files = list_files(path, "shp")

    # attribute schema is fixed by the first file's dbf header (driver
    # reads 32 bytes + descriptors, not the data)
    dbf0 = files[0][:-4] + ".dbf"
    if os.path.exists(dbf0):
        with open(dbf0, "rb") as f:
            head = f.read(32)
            _, _, header_size, _ = parse_dbf_header(head + b"\x0d")
            fields, _, _, _ = parse_dbf_header(head + f.read(header_size - 32))
    else:
        fields = []
    attr_cols = [name for name, *_ in fields]
    schema = ", ".join(
        ["gid int", "srid int", "shapeType string", "geom binary"]
        + [_spark_field(n, t, d) for n, t, _l, d in fields]
    )
    cols = ["gid", "srid", "shapeType", "geom"] + attr_cols

    def decode_partition(batches):
        for pdf in batches:
            for fpath in pdf["path"]:
                with open(fpath, "rb") as f:
                    shapes = decode_shp(f.read())
                dbf_path = fpath[:-4] + ".dbf"
                attrs: list[dict] = []
                if os.path.exists(dbf_path):
                    with open(dbf_path, "rb") as f:
                        attrs = decode_dbf(f.read())
                srid = read_srid(fpath[:-4] + ".prj")
                rows = []
                for i, (gid, stype, wkb) in enumerate(shapes):
                    row = {"gid": gid, "srid": srid, "shapeType": stype, "geom": wkb}
                    a = attrs[i] if i < len(attrs) else {}
                    for c in attr_cols:
                        row[c] = a.get(c)
                    rows.append(row)
                yield pd.DataFrame.from_records(rows, columns=cols)

    return scan_files(spark, files, decode_partition, schema)


# ----------------------------------------------------------------- write

def write_shp(rows: list[dict], out_base: str, srid: int = 4326) -> None:
    """Minimal point-shapefile writer for tests/fixtures: rows carry
    ``x``/``y`` plus string/int attributes; writes .shp, .dbf and a
    .prj whose authority clause matches the reference's SRID regex.
    (The reference plugin is read-only; this exists so tests and the
    oracle query can build spec-conformant inputs.)"""
    pts = [(r["x"], r["y"]) for r in rows]
    shp_body = b""
    for i, (x, y) in enumerate(pts):
        content = struct.pack("<idd", 1, x, y)
        shp_body += struct.pack(">ii", i + 1, len(content) // 2) + content
    xs = [x for x, _ in pts] or [0.0]
    ys = [y for _, y in pts] or [0.0]
    # magic, 5 unused ints, file length in 16-bit words
    header = struct.pack(">iiiiiii", 9994, 0, 0, 0, 0, 0, (100 + len(shp_body)) // 2)
    header += struct.pack("<ii", 1000, 1)  # version, shape type Point
    header += struct.pack("<dddddddd", min(xs), min(ys), max(xs), max(ys), 0, 0, 0, 0)
    with open(out_base + ".shp", "wb") as f:
        f.write(header + shp_body)

    attrs = [k for k in rows[0] if k not in ("x", "y")] if rows else []
    fields = []
    for name in attrs:
        if isinstance(rows[0][name], (int, float)) and not isinstance(rows[0][name], bool):
            is_int = all(isinstance(r[name], int) for r in rows)
            fields.append((name, "N", 18, 0 if is_int else 6))
        else:
            fields.append((name, "C", 32, 0))
    record_size = 1 + sum(f[2] for f in fields)
    header_size = 32 + 32 * len(fields) + 1
    dbf = bytearray()
    dbf += struct.pack("<B3BIHH20x", 3, 24, 1, 1, len(rows), header_size, record_size)
    for name, ftype, flen, fdec in fields:
        dbf += name.encode("ascii")[:11].ljust(11, b"\x00")
        dbf += ftype.encode("ascii")
        dbf += b"\x00" * 4 + bytes([flen, fdec]) + b"\x00" * 14
    dbf += b"\x0d"
    for r in rows:
        dbf += b" "
        for name, ftype, flen, fdec in fields:
            v = r.get(name)
            if v is None:
                dbf += b" " * flen
            elif ftype == "C":
                dbf += str(v).encode("latin-1")[:flen].ljust(flen, b" ")
            elif fdec == 0:
                dbf += str(int(v)).rjust(flen).encode("ascii")
            else:
                dbf += f"{float(v):.{fdec}f}".rjust(flen)[:flen].encode("ascii")
    dbf += b"\x1a"
    with open(out_base + ".dbf", "wb") as f:
        f.write(bytes(dbf))
    with open(out_base + ".prj", "w") as f:
        f.write(
            'GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",'
            '6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],'
            f'UNIT["Degree",0.0174532925199433],AUTHORITY["EPSG","{srid}"]]'
        )
