"""MS Access (.mdb / .accdb) format reader — Jet/ACE databases as tables.

Drill reference: contrib/format-access (store/msaccess/
MSAccessBatchReader.java) reads through the Jackcess library: with a
``tableName`` option the table's rows (typed columns), without one a
metadata listing (table, created_date, updated_date, row_count,
col_count, columns). No such jar exists for Python, so this module
decodes the on-disk Jet format directly per the publicly documented
layout (the mdbtools project's HACKING notes; Jackcess documents the
same structures):

- page 0 identifies Jet3 (2 KiB pages) vs Jet4/ACE (4 KiB);
- page 2 is the table definition (TDEF) of the MSysObjects catalog;
  its rows name every object and its TDEF page — user tables are
  type 1 rows whose names don't start with "MSys";
- a TDEF page carries column definitions (type, fixed offset /
  variable index, length, flags) and UTF-16LE (Jet4) or cp1252
  (Jet3) column names, plus the row count;
- data pages (type 0x01) name their owning TDEF page, so the reader
  finds a table's rows by scanning pages for that owner — no usage
  bitmap decoding, deleted/overflow rows skipped via the offset-table
  flag bits;
- rows: fixed-width values at TDEF offsets, variable-width values
  through the trailing offset table, trailing null bitmap (booleans
  live IN the bitmap), Jet4 "unicode compression" (0xFFFE prefix)
  expanded, MEMO columns resolved through LVAL record pointers,
  OLE/binary surfaced as bytes;
- types: BOOL, BYTE, INT16, INT32, MONEY (scaled 10^-4 decimal),
  FLOAT32/64, DATETIME (days since 1899-12-30), TEXT, MEMO, GUID,
  NUMERIC (17-byte scaled big-endian), BIGINT, and ACE extended
  date/time (both the 8-byte tick form and the 42-byte string form).

Validated against the reference plugin's own fixture databases
(V1997/V2000/V2003 .mdb, V2007/V2010/V2019 .accdb), reproducing
TestMSAccessReader's asserted rows.

Scale shape: one file per task (a Jet database is a single
pointer-dense file, the reference's one-reader-per-file unit).
"""

from __future__ import annotations

import datetime
import struct

from drill_spark.readers.formats import list_files, scan_files

_EPOCH = datetime.datetime(1899, 12, 30)

# byte widths of the fixed-size jet types (used to spot CALCULATED
# columns, which store a fixed-size result in a var-len wrapper)
_FIXED_SIZES = {0x01: 1, 0x02: 1, 0x03: 2, 0x04: 4, 0x05: 8, 0x06: 4,
                0x07: 8, 0x08: 8, 0x0F: 16, 0x10: 17, 0x13: 8, 0x14: 42}


class _Jet:
    def __init__(self, data: bytes):
        if data[4:9] != b"Stand":  # "Standard Jet DB" / "Standard ACE DB"
            raise ValueError("not an Access database (bad magic)")
        self.d = data
        self.ver = data[0x14]
        self.jet4 = self.ver >= 1
        self.page_size = 4096 if self.jet4 else 2048
        self.n_pages = len(data) // self.page_size

    # --------------------------------------------------------- pages

    def page(self, n: int) -> bytes:
        return self.d[n * self.page_size:(n + 1) * self.page_size]

    # ---------------------------------------------------------- tdef

    def tdef(self, pg: int) -> dict:
        """Parse a table definition, following continuation pages."""
        raw = bytearray()
        first = self.page(pg)
        if first[0] != 0x02:
            raise ValueError(f"page {pg} is not a TDEF page")
        nxt = struct.unpack_from("<I", first, 4)[0]
        raw += first[8:]
        while nxt:
            p = self.page(nxt)
            nxt = struct.unpack_from("<I", p, 4)[0]
            raw += p[8:]
        b = bytes(raw)
        if self.jet4:
            num_rows = struct.unpack_from("<I", b, 8)[0]
            num_var_cols = struct.unpack_from("<H", b, 35)[0]
            num_cols = struct.unpack_from("<H", b, 37)[0]
            num_idx = struct.unpack_from("<I", b, 39)[0]
            num_real_idx = struct.unpack_from("<I", b, 43)[0]
            pos = 55 + num_real_idx * 12
            cols = []
            for _ in range(num_cols):
                (ctype,) = struct.unpack_from("<B", b, pos)
                col_num = struct.unpack_from("<H", b, pos + 5)[0]
                off_v = struct.unpack_from("<H", b, pos + 7)[0]
                prec, scale = b[pos + 11], b[pos + 12]
                bitmask = b[pos + 15]
                misc_flags = b[pos + 16]
                off_f = struct.unpack_from("<H", b, pos + 21)[0]
                col_len = struct.unpack_from("<H", b, pos + 23)[0]
                cols.append({
                    "type": ctype, "col_num": col_num, "off_v": off_v,
                    "off_f": off_f, "len": col_len,
                    "fixed": bool(bitmask & 0x01),
                    "compressed": bool(misc_flags & 0x01),
                    "prec": prec, "scale": scale,
                })
                pos += 25
            for c in cols:
                nlen = struct.unpack_from("<H", b, pos)[0]
                pos += 2
                c["name"] = b[pos:pos + nlen].decode("utf-16-le", "replace")
                pos += nlen
        else:
            num_rows = struct.unpack_from("<I", b, 4)[0]
            num_var_cols = struct.unpack_from("<H", b, 15)[0]
            num_cols = struct.unpack_from("<H", b, 17)[0]
            num_idx = struct.unpack_from("<I", b, 19)[0]
            num_real_idx = struct.unpack_from("<I", b, 23)[0]
            pos = 35 + num_real_idx * 8
            cols = []
            for _ in range(num_cols):
                (ctype,) = struct.unpack_from("<B", b, pos)
                col_num = struct.unpack_from("<H", b, pos + 1)[0]
                off_v = struct.unpack_from("<H", b, pos + 3)[0]
                prec, scale = b[pos + 11], b[pos + 12]
                bitmask = b[pos + 13]
                off_f = struct.unpack_from("<H", b, pos + 14)[0]
                col_len = struct.unpack_from("<H", b, pos + 16)[0]
                cols.append({
                    "type": ctype, "col_num": col_num, "off_v": off_v,
                    "off_f": off_f, "len": col_len,
                    "fixed": bool(bitmask & 0x01),
                    "compressed": False,
                    "prec": prec, "scale": scale,
                })
                pos += 18
            for c in cols:
                nlen = b[pos]
                pos += 1
                c["name"] = b[pos:pos + nlen].decode("cp1252", "replace")
                pos += nlen
        cols.sort(key=lambda c: c["col_num"])
        return {"num_rows": num_rows, "cols": cols, "page": pg,
                "num_var_cols": num_var_cols}

    # ---------------------------------------------------------- rows

    def _data_pages(self, tdef_pg: int):
        for n in range(1, self.n_pages):
            p = self.page(n)
            if p[0] == 0x01 and struct.unpack_from("<I", p, 4)[0] == tdef_pg:
                yield n, p

    def _row_spans(self, p: bytes):
        """(start, end) byte spans of live rows on a data page."""
        if self.jet4:
            num_rows = struct.unpack_from("<H", p, 12)[0]
            tab = 14
        else:
            num_rows = struct.unpack_from("<H", p, 8)[0]
            tab = 10
        offs = [struct.unpack_from("<H", p, tab + 2 * i)[0] for i in range(num_rows)]
        for i, off in enumerate(offs):
            deleted = off & 0x8000
            lookup = off & 0x4000
            start = off & 0x1FFF
            if deleted:
                continue
            prev = offs[i - 1] & 0x1FFF if i else self.page_size
            if lookup:
                # overflow pointer: 4-byte record pointer to the real row
                yield ("ptr", p[start:start + 4])
            else:
                yield ("row", p[start:prev])

    def _resolve_ptr(self, ptr: bytes) -> bytes | None:
        row, pg = ptr[0], int.from_bytes(ptr[1:4], "little")
        p = self.page(pg)
        spans = list(self._row_spans_raw(p))
        if row < len(spans):
            return spans[row]
        return None

    def _row_spans_raw(self, p: bytes):
        if self.jet4:
            num_rows = struct.unpack_from("<H", p, 12)[0]
            tab = 14
        else:
            num_rows = struct.unpack_from("<H", p, 8)[0]
            tab = 10
        offs = [struct.unpack_from("<H", p, tab + 2 * i)[0] for i in range(num_rows)]
        for i, off in enumerate(offs):
            start = off & 0x1FFF
            prev = offs[i - 1] & 0x1FFF if i else self.page_size
            yield p[start:prev]

    # ------------------------------------------------------- values

    def _text(self, raw: bytes, compressed_hint: bool) -> str:
        if not self.jet4:
            return raw.decode("cp1252", "replace")
        if raw[:2] == b"\xff\xfe":
            # Jet4 unicode compression: 1-byte mode after the prefix,
            # 0x00 toggles between cp1252-ish and UTF-16 segments
            out = []
            i = 2
            wide = False
            while i < len(raw):
                if not wide:
                    if raw[i] == 0x00:
                        wide = True
                        i += 1
                        continue
                    out.append(raw[i:i + 1].decode("cp1252", "replace"))
                    i += 1
                else:
                    if i + 1 < len(raw) and raw[i] == 0x00 and raw[i + 1] == 0x00:
                        wide = False
                        i += 2
                        continue
                    out.append(raw[i:i + 2].decode("utf-16-le", "replace"))
                    i += 2
            return "".join(out)
        return raw.decode("utf-16-le", "replace")

    def _memo(self, raw: bytes) -> str | None:
        """12-byte MEMO/LVAL descriptor -> text."""
        if len(raw) < 12:
            return None
        memo_len = struct.unpack_from("<I", raw, 0)[0]
        flags = memo_len >> 24  # actually bitmask 0x80 inline, 0x40 single page
        length = memo_len & 0x00FFFFFF
        ptr = raw[4:8]
        if flags & 0x80:
            return self._text(raw[12:12 + length], False)
        if flags & 0x40:
            row = self._resolve_ptr(ptr)
            return self._text((row or b"")[:length], False)
        # multi-page chain: each LVAL row = next ptr (4) + data
        out = bytearray()
        cur = ptr
        while int.from_bytes(cur[1:4], "little"):
            row = self._resolve_ptr(cur)
            if row is None:
                break
            cur = row[:4]
            out += row[4:]
            if len(out) >= length:
                break
        return self._text(bytes(out)[:length], False)

    def _value(self, col: dict, raw: bytes):
        t = col["type"]
        if t == 0x02:
            return raw[0] if raw else None
        if t == 0x03:
            return struct.unpack("<h", raw[:2])[0]
        if t == 0x04:
            return struct.unpack("<i", raw[:4])[0]
        if t == 0x05:  # MONEY: scaled 1e-4 int64
            from decimal import Decimal

            return Decimal(struct.unpack("<q", raw[:8])[0]) / Decimal(10000)
        if t == 0x06:
            return struct.unpack("<f", raw[:4])[0]
        if t == 0x07:
            return struct.unpack("<d", raw[:8])[0]
        if t == 0x08:  # DATETIME: fractional days since 1899-12-30
            days = struct.unpack("<d", raw[:8])[0]
            ms = round(abs(days - int(days)) * 86400 * 1000)
            return _EPOCH + datetime.timedelta(days=int(days), milliseconds=ms)
        if t in (0x09, 0x0B):  # BINARY / OLE
            return bytes(raw)
        if t == 0x0A:  # TEXT
            return self._text(raw, col.get("compressed", False))
        if t == 0x0C:  # MEMO
            return self._memo(raw)
        if t == 0x0F:  # GUID
            if len(raw) >= 16:
                a, b_, c = struct.unpack_from("<IHH", raw, 0)
                return f"{{{a:08x}-{b_:04x}-{c:04x}-" + raw[8:10].hex() + "-" + raw[10:16].hex() + "}"
            return None
        if t == 0x10:  # NUMERIC: sign byte + 16-byte big-endian int
            from decimal import Decimal

            if len(raw) < 17:
                return None
            sign = -1 if raw[0] & 0x80 else 1
            mag = int.from_bytes(raw[1:17], "big")
            return Decimal(sign * mag) / (Decimal(10) ** col.get("scale", 0))
        if t == 0x13:  # BIGINT (ACE v16)
            return struct.unpack("<q", raw[:8])[0]
        if t == 0x14:  # ACE extended date/time
            return self._ext_datetime(raw)
        return bytes(raw)

    def _ext_datetime(self, raw: bytes):
        """ACE "large date/time" (42-byte ASCII): zero-padded
        ``days:ticks:7`` — days since 0001-01-01 (proleptic, day 0)
        and 100-ns ticks within the day."""
        s = bytes(raw).split(b"\x00")[0].decode("ascii", "replace")
        parts = s.split(":")
        if len(parts) < 2:
            return None
        try:
            days = int(parts[0])
            ticks = int(parts[1])
        except ValueError:
            return None
        try:
            base = datetime.datetime.fromordinal(days + 1)
        except (ValueError, OverflowError):
            return None
        return base + datetime.timedelta(microseconds=ticks // 10)

    # --------------------------------------------------------- rows

    def table_rows(self, td: dict):
        cols = td["cols"]
        for n, p in self._data_pages(td["page"]):
            for kind, span in self._row_spans(p):
                if kind == "ptr":
                    span = self._resolve_ptr(span)
                    if span is None:
                        continue
                row = self._crack_row(span, cols)
                if row is not None:
                    yield row

    def _crack_row(self, r: bytes, cols):
        if not r:
            return None
        if self.jet4:
            ncols_row = struct.unpack_from("<H", r, 0)[0]
            base = 2
        else:
            ncols_row = r[0]
            base = 1
        null_sz = (ncols_row + 7) // 8
        null_mask = r[len(r) - null_sz:]

        def is_null(i: int) -> bool:
            if i >= ncols_row:
                return True
            return not (null_mask[i // 8] >> (i % 8)) & 1

        n_var_row = 0
        var_offs: list[int] = []
        var_cols = [c for c in cols if not c["fixed"]]
        if var_cols:
            if self.jet4:
                n_var_row = struct.unpack_from(
                    "<H", r, len(r) - null_sz - 2)[0]
                tab_end = len(r) - null_sz - 2
                var_offs = [
                    struct.unpack_from("<H", r, tab_end - 2 * (i + 1))[0]
                    for i in range(n_var_row + 1)
                ]
            else:
                n_var_row = r[len(r) - null_sz - 1]
                # Jet3: 1-byte offsets + jump table when rows are long
                tab_end = len(r) - null_sz - 1
                n_jumps = (len(r) - 1) // 256
                var_offs1 = [r[tab_end - 1 - i] for i in range(n_var_row + 1)]
                jumps = [r[tab_end - 1 - n_var_row - 1 - j] for j in range(n_jumps)]
                # expand with jump-table carries
                var_offs = []
                carry = 0
                ji = 0
                for i, o in enumerate(var_offs1):
                    while ji < len(jumps) and jumps[ji] < i:  # jump applies
                        carry += 256
                        ji += 1
                    var_offs.append(o + carry)
                # fallback: monotonic fix-up if the jump logic under-shot
                for i in range(1, len(var_offs)):
                    while var_offs[i] > var_offs[i - 1]:
                        break
        out = {}
        vi_count = len(var_cols)
        for c in cols:
            i = c["col_num"]
            if is_null(i):
                if c["type"] == 0x01:  # boolean: bit IS the value
                    out[c["name"]] = False if i < ncols_row else None
                else:
                    out[c["name"]] = None
                continue
            if c["type"] == 0x01:
                out[c["name"]] = True
                continue
            if c["fixed"]:
                start = base + c["off_f"]
                raw = r[start:start + c["len"]]
            else:
                vi = c["off_v"]
                if vi >= n_var_row or vi + 1 >= len(var_offs):
                    out[c["name"]] = None
                    continue
                raw = r[var_offs[vi]:var_offs[vi + 1]]
                if c["type"] in _FIXED_SIZES:
                    # a fixed-size type stored var-len = CALCULATED
                    # column: 16-byte header + u32 result type + value
                    raw = self._unwrap_calc(raw)
                    if raw is None:
                        out[c["name"]] = None
                        continue
            try:
                out[c["name"]] = self._value(c, raw)
            except (struct.error, ValueError, OverflowError):
                out[c["name"]] = None
        return out

    @staticmethod
    def _unwrap_calc(raw: bytes):
        if len(raw) < 20:
            return None
        vtype = struct.unpack_from("<I", raw, 16)[0]
        if vtype == 0:
            return None
        return raw[20:]

    # ------------------------------------------------------- catalog

    def catalog(self):
        """MSysObjects rows: (name, type, tdef page, created, updated)."""
        td = self.tdef(2)
        for row in self.table_rows(td):
            yield row

    def user_tables(self):
        for row in self.catalog():
            t = row.get("Type")
            name = row.get("Name")
            if t is None or name is None:
                continue
            if (t & 0x7F) == 1 and not str(name).startswith(("MSys", "~")):
                flags = row.get("Flags") or 0
                if flags & 0x80000000:
                    continue  # system object bit
                yield {
                    "name": str(name),
                    "tdef_pg": (row.get("Id") or 0) & 0x00FFFFFF,
                    "created": row.get("DateCreate"),
                    "updated": row.get("DateUpdate"),
                }


def read_access_table(data: bytes, table_name: str) -> tuple[list[dict], list[dict]]:
    """(columns, rows) for one table; columns carry name + jet type."""
    db = _Jet(data)
    for t in db.user_tables():
        if t["name"] == table_name:
            td = db.tdef(t["tdef_pg"])
            return td["cols"], list(db.table_rows(td))
    raise KeyError(f"table {table_name!r} not found in database")


_SPARK_TYPES = {
    0x01: "boolean", 0x02: "tinyint", 0x03: "smallint", 0x04: "int",
    0x05: "decimal(19,4)", 0x06: "float", 0x07: "double",
    0x08: "timestamp_ntz", 0x09: "binary", 0x0A: "string", 0x0B: "binary",
    0x0C: "string", 0x0F: "string", 0x10: "decimal(28,6)", 0x13: "bigint",
    0x14: "timestamp_ntz",
}


def read_access(spark, path: str, table_name: str | None = None):
    """Spark read: rows of ``table_name``, or the metadata listing
    (table / created_date / updated_date / row_count / col_count /
    columns) when no table is named — the reference reader's two
    modes. One file per task via mapInPandas; schema probed from the
    first file on the driver."""
    import pandas as pd

    files = list_files(path, "msaccess")

    if table_name is None:
        schema = ("table string, created_date timestamp_ntz, "
                  "updated_date timestamp_ntz, row_count int, col_count int, "
                  "columns array<string>")

        def scan_meta(batches):
            for pdf in batches:
                rows = []
                for fp in pdf["path"]:
                    with open(fp, "rb") as fh:
                        rows.extend(list_access_tables(fh.read()))
                yield pd.DataFrame.from_records(
                    rows, columns=["table", "created_date", "updated_date",
                                   "row_count", "col_count", "columns"])

        return scan_files(spark, files, scan_meta, schema)

    with open(files[0], "rb") as fh:
        cols, _ = read_access_table(fh.read(), table_name)
    names = [c["name"] for c in cols]
    schema = ", ".join(
        f"`{c['name']}` {_SPARK_TYPES.get(c['type'], 'string')}" for c in cols
    )

    def scan_rows(batches):
        for pdf in batches:
            rows = []
            for fp in pdf["path"]:
                with open(fp, "rb") as fh:
                    _, file_rows = read_access_table(fh.read(), table_name)
                rows.extend(file_rows)
            yield pd.DataFrame.from_records(rows, columns=names)

    return scan_files(spark, files, scan_rows, schema)


def list_access_tables(data: bytes) -> list[dict]:
    """The no-tableName metadata listing (reference's default mode)."""
    db = _Jet(data)
    out = []
    for t in db.user_tables():
        td = db.tdef(t["tdef_pg"])
        out.append({
            "table": t["name"],
            "created_date": t["created"],
            "updated_date": t["updated"],
            "row_count": td["num_rows"],
            "col_count": len(td["cols"]),
            "columns": [c["name"] for c in td["cols"]],
        })
    return out


def write_access_table(path: str, table_name: str,
                       columns: "list[tuple[str, str]]",
                       rows: "list[list]") -> None:
    """Minimal Jet4 writer for tests/fixtures (the scan-path oracle
    pattern of the avro/delta/pdf writers): one user table of INT32
    ("int"), DOUBLE ("double") and TEXT ("text") columns. Emits the
    structures OUR reader walks — page-0 magic/version, the
    MSysObjects catalog TDEF at page 2 with one catalog data page, the
    user TDEF and packed data pages; allocation maps and the RC4-ed
    page-0 parameter block are zeroed (reader-irrelevant), so this is
    a fixture writer, not a general Jet producer. The READ path is
    independently validated against the reference's six real fixture
    databases."""
    PS = 4096
    JTYPES = {"int": (0x04, 4), "double": (0x07, 8), "text": (0x0A, 0)}

    def tdef_page(next_pg, num_rows, cols):
        # cols: list of dicts {name, type, fixed, off_f, off_v, len}
        b = bytearray()
        b += bytes([0x02, 0x01]) + b"\x00\x00"
        b += struct.pack("<I", next_pg)
        raw = bytearray(b"\x00" * 55)
        struct.pack_into("<I", raw, 8, num_rows)
        n_var = sum(1 for c in cols if not c["fixed"])
        struct.pack_into("<H", raw, 35, n_var)
        struct.pack_into("<H", raw, 37, len(cols))
        struct.pack_into("<I", raw, 39, 0)
        struct.pack_into("<I", raw, 43, 0)
        for i, c in enumerate(cols):
            cd = bytearray(25)
            cd[0] = c["jtype"]
            struct.pack_into("<H", cd, 5, i)
            struct.pack_into("<H", cd, 7, c.get("off_v", 0))
            cd[15] = 0x01 if c["fixed"] else 0x00
            struct.pack_into("<H", cd, 21, c.get("off_f", 0))
            struct.pack_into("<H", cd, 23, c["len"])
            raw += cd
        for c in cols:
            nb = c["name"].encode("utf-16-le")
            raw += struct.pack("<H", len(nb)) + nb
        b += raw
        b += b"\x00" * (PS - len(b))
        return bytes(b[:PS])

    def make_cols(spec):
        cols = []
        off_f = 0
        off_v = 0
        for name, t in spec:
            jt, width = JTYPES[t]
            fixed = t != "text"
            c = {"name": name, "jtype": jt, "fixed": fixed,
                 "len": width if fixed else 510}
            if fixed:
                c["off_f"] = off_f
                off_f += width
            else:
                c["off_v"] = off_v
                off_v += 1
            cols.append(c)
        return cols

    def encode_row(cols, values):
        ncols = len(cols)
        fixed_w = sum(c["len"] for c in cols if c["fixed"])
        n_var = sum(1 for c in cols if not c["fixed"])
        body = bytearray(struct.pack("<H", ncols))
        fixed = bytearray(fixed_w)
        null_bits = 0
        for i, (c, v) in enumerate(zip(cols, values)):
            if v is not None:
                null_bits |= 1 << i
            if c["fixed"]:
                if v is None:
                    continue
                if c["jtype"] == 0x04:
                    struct.pack_into("<i", fixed, c["off_f"], int(v))
                elif c["jtype"] == 0x07:
                    struct.pack_into("<d", fixed, c["off_f"], float(v))
                elif c["jtype"] == 0x08:
                    days = (v - _EPOCH).total_seconds() / 86400.0
                    struct.pack_into("<d", fixed, c["off_f"], days)
                elif c["jtype"] == 0x03:
                    struct.pack_into("<h", fixed, c["off_f"], int(v))
        body += fixed
        var_offs = []
        for c, v in zip(cols, values):
            if c["fixed"]:
                continue
            var_offs.append(len(body))
            if v is not None:
                body += str(v).encode("utf-16-le")
        var_offs.append(len(body))
        # trailing tables, written back-to-front per the reader's walk
        for off in var_offs:           # var_offs[0] ends nearest tab_end
            pass
        tail = bytearray()
        for off in reversed(var_offs):
            tail += struct.pack("<H", off)
        tail += struct.pack("<H", n_var)
        tail += bytes([null_bits & 0xFF] * ((ncols + 7) // 8))
        return bytes(body) + bytes(tail)

    def data_pages(tdef_pg, cols, rows_):
        pages = []
        cur_rows: list[bytes] = []
        used = 14  # header + will add 2/row for offsets

        def flush():
            nonlocal cur_rows, used
            if not cur_rows:
                return
            pg = bytearray(PS)
            pg[0] = 0x01
            pg[1] = 0x01
            struct.pack_into("<I", pg, 4, tdef_pg)
            struct.pack_into("<H", pg, 12, len(cur_rows))
            end = PS
            for i, rb in enumerate(cur_rows):
                start = end - len(rb)
                pg[start:end] = rb
                struct.pack_into("<H", pg, 14 + 2 * i, start)
                end = start
            pages.append(bytes(pg))
            cur_rows = []
            used = 14

        for r in rows_:
            rb = encode_row(cols, r)
            if used + 2 + len(rb) + sum(len(x) for x in cur_rows) > PS - 64:
                flush()
            cur_rows.append(rb)
            used += 2
        flush()
        return pages

    user_cols = make_cols(columns)
    # catalog columns in the layout user_tables() expects
    cat_cols = make_cols([
        ("Id", "int"), ("Type", "int"), ("Flags", "int"), ("Name", "text"),
    ])
    user_tdef_pg = 4
    n_user_pages = len(data_pages(user_tdef_pg, user_cols, rows))
    cat_rows = [[user_tdef_pg, 1, 0, table_name]]

    pages: dict[int, bytes] = {}
    p0 = bytearray(PS)
    p0[0:4] = b"\x00\x01\x00\x00"
    p0[4:20] = b"Standard Jet DB\x00"
    p0[0x14] = 1
    pages[0] = bytes(p0)
    pages[1] = b"\x00" * PS
    pages[2] = tdef_page(0, len(cat_rows), cat_cols)
    pages[3] = data_pages(2, cat_cols, cat_rows)[0]
    pages[4] = tdef_page(0, len(rows), user_cols)
    for i, pg in enumerate(data_pages(user_tdef_pg, user_cols, rows)):
        pages[5 + i] = pg
    out = b"".join(pages[i] for i in range(max(pages) + 1))
    with open(path, "wb") as f:
        f.write(out)
