"""SAS ``.sas7bdat`` format reader — SAS datasets as tables.

Drill reference: contrib/format-sas (store/sas/SasBatchReader.java)
reads SAS7BDAT through the com.epam.parso library: numeric columns as
FLOAT8 (re-typed DATE/TIME/TIMESTAMP when the column's SAS format
name is a date/time format), strings as VARCHAR, plus implicit
``_compression_method``/``_file_label``/``_file_type``/``_os_name``/
``_os_type``/``_sas_release``/``_session_encoding``/``_server_type``/
``_date_created``/``_date_modified`` metadata columns. The on-disk
layout is not published by SAS but is publicly documented by the
parso / sas7bdat.py projects; this module implements that layout:

- header: alignment probe bytes select 32/64-bit offsets, endianness
  byte, header/page sizes, creation dates (SAS epoch 1960-01-01),
  release/host strings;
- pages: meta/mix/data page types; subheader pointer walk with the
  known signatures (row size, column size, column text, column
  names, column attributes, column formats);
- columns: names and formats resolved through the text-blob
  indirection; attributes give per-column offset/width/type; numeric
  values are doubles truncated to 3..8 bytes (left-padded on
  little-endian); SAS date/time/datetime formats map to
  date/timestamp types like the reference's DateTimeConstants sets;
- compression: bytewise RLE ("SASYZCRL") and RDC ("SASYZCR2",
  Ross Data Compression: 16-bit control words selecting literal /
  RLE / back-reference pattern commands) decompression of row
  subheaders, per the publicly documented layout.

Validated against the reference plugin's own binary fixtures (32-bit
and 64-bit, SAS 9.1-9.4) reproducing TestSasReader's asserted rows.

Scale shape: one mapInPandas task per file, like the other
single-stream formats (pages reference file-global text subheaders,
so sub-file splitting needs the dictionary anyway; SAS datasets ship
as many files, which is the useful axis of parallelism).
"""

from __future__ import annotations

import datetime
import struct

from pyspark.sql import DataFrame, SparkSession

from drill_spark.readers.formats import list_files, scan_files

_SAS_EPOCH = datetime.datetime(1960, 1, 1)

_DATE_FORMATS = {
    "B8601DA", "E8601DA", "DATE", "DAY", "DDMMYY", "DDMMYYB", "DDMMYYC",
    "DDMMYYD", "DDMMYYN", "DDMMYYP", "DDMMYYS", "JULDAY", "JULIAN", "MMDDYY",
    "MMDDYYB", "MMDDYYC", "MMDDYYD", "MMDDYYN", "MMDDYYP", "MMDDYYS", "MMYY",
    "MMYYC", "MMYYD", "MMYYN", "MMYYP", "MMYYS", "MONNAME", "MONTH", "MONYY",
    "WEEKDATE", "WEEKDATX", "WEEKDAY", "DOWNAME", "WORDDATE", "WORDDATX",
    "YEAR", "YYMM", "YYMMC", "YYMMD", "YYMMN", "YYMMP", "YYMMS", "YYMMDD",
    "YYMMDDB", "YYMMDDC", "YYMMDDD", "YYMMDDN", "YYMMDDP", "YYMMDDS", "YYMON",
}
_TIME_FORMATS = {"TIME", "HHMM", "E8601LZ", "E8601TM", "HOUR", "MMSS", "TIMEAMPM"}
_DATETIME_FORMATS = {
    "B8601DN", "B8601DT", "B8601DX", "B8601DZ", "B8601LX", "E8601DN",
    "E8601DT", "E8601DX", "E8601DZ", "E8601LX", "DATEAMPM", "DATETIME",
    "DTDATE", "DTMONYY", "DTWKDATX", "DTYEAR", "MDYAMPM", "TOD",
}

_RLE, _RDC = b"SASYZCRL", b"SASYZCR2"

_PAGE_META, _PAGE_DATA, _PAGE_MIX = (0, 16384), (256, 384), (512, 640)


class _Col:
    __slots__ = ("name", "offset", "width", "ctype", "fmt")

    def __init__(self):
        self.name = ""
        self.offset = 0
        self.width = 0
        self.ctype = 1
        self.fmt = ""


class SasFile:
    def __init__(self, data: bytes):
        self.data = data
        a2 = 4 if data[32] == 0x33 else 0
        a1 = 4 if data[35] == 0x33 else 0
        self.u64 = a2 == 4
        self.int_len = 8 if self.u64 else 4
        self.bo = "<" if data[37] == 0x01 else ">"
        ta = a1 + a2
        self.header_size = self._u32(196 + a1)
        self.page_size = self._u32(200 + a1)
        self.page_count = self._uint(204 + a1)
        self.date_created = self._sas_dt(self._dbl(164 + a1))
        self.date_modified = self._sas_dt(self._dbl(172 + a1))
        self.file_label = self._str(92, 64)
        self.file_type = self._str(156, 8)
        self.sas_release = self._str(216 + ta, 8)
        self.server_type = self._str(224 + ta, 16)
        self.os_type = self._str(240 + ta, 16)
        self.os_name = self._str(272 + ta, 16) or self._str(256 + ta, 16)
        self.encoding = "latin-1"
        self.compression = None  # None | "RLE" | "RDC"

        self.columns: list[_Col] = []
        self.row_length = 0
        self.row_count = 0
        self.mix_page_row_count = 0
        self._texts: list[bytes] = []
        self._name_refs: list[tuple[int, int, int]] = []
        self._fmt_refs: list[tuple[int, int, int]] = []
        self._parse_meta()
        self._bind_columns()

    # ---------------------------------------------------------- low-level
    def _u16(self, off):
        return struct.unpack_from(self.bo + "H", self.data, off)[0]

    def _u32(self, off):
        return struct.unpack_from(self.bo + "I", self.data, off)[0]

    def _uint(self, off):
        return struct.unpack_from(self.bo + ("Q" if self.u64 else "I"), self.data, off)[0]

    def _dbl(self, off):
        return struct.unpack_from(self.bo + "d", self.data, off)[0]

    def _str(self, off, n):
        return self.data[off : off + n].split(b"\x00", 1)[0].decode("latin-1").strip()

    def _sas_dt(self, seconds: float):
        try:
            return (_SAS_EPOCH + datetime.timedelta(seconds=seconds)).date()
        except (OverflowError, ValueError):
            return None

    # ------------------------------------------------------------- pages
    def _page_iter(self):
        for p in range(self.page_count):
            off = self.header_size + p * self.page_size
            if off >= len(self.data):
                break
            yield off

    def _pointers(self, page_off: int):
        bit = 32 if self.u64 else 16
        n_sub = self._u16(page_off + bit + 4)
        plen = 24 if self.u64 else 12
        out = []
        for i in range(n_sub):
            base = page_off + bit + 8 + i * plen
            sh_off = self._uint(base)
            sh_len = self._uint(base + self.int_len)
            compr = self.data[base + 2 * self.int_len]
            ptype = self.data[base + 2 * self.int_len + 1]
            out.append((page_off + sh_off, sh_len, compr, ptype))
        return out

    def _signature(self, off: int) -> bytes:
        sig = self.data[off : off + self.int_len]
        if self.u64:
            # the marker half of an 8-byte signature (LE: low word)
            lo, hi = sig[:4], sig[4:]
            sig = lo if lo not in (b"\x00\x00\x00\x00", b"\xff\xff\xff\xff") else hi
            if lo == b"\xff\xff\xff\xff" and hi == b"\xff\xff\xff\xff":
                sig = lo
        return sig if self.bo == "<" else sig[::-1]

    def _parse_meta(self):
        il = self.int_len
        self._data_subheaders: list[tuple[int, int, int]] = []
        for page_off in self._page_iter():
            bit = 32 if self.u64 else 16
            ptype = self._u16(page_off + bit)
            if ptype in _PAGE_DATA:
                continue
            for sh_off, sh_len, compr, sh_type in self._pointers(page_off):
                if sh_len == 0 or compr == 1:  # truncated
                    continue
                sig = self._signature(sh_off)
                if sig == b"\xf7\xf7\xf7\xf7":
                    self.row_length = self._uint(sh_off + 5 * il)
                    self.row_count = self._uint(sh_off + 6 * il)
                    self.mix_page_row_count = self._uint(sh_off + 15 * il)
                elif sig == b"\xf6\xf6\xf6\xf6":
                    pass  # column count; derived from attributes
                elif sig == b"\xfd\xff\xff\xff":
                    blob = self.data[sh_off + il : sh_off + sh_len]
                    if not self._texts:
                        if _RLE in blob:
                            self.compression = "RLE"
                        elif _RDC in blob:
                            self.compression = "RDC"
                    self._texts.append(blob)
                elif sig == b"\xff\xff\xff\xff":
                    n = (sh_len - 2 * il - 12) // 8
                    for i in range(n):
                        e = sh_off + il + 8 + i * 8
                        self._name_refs.append(
                            (self._u16(e), self._u16(e + 2), self._u16(e + 4))
                        )
                elif sig == b"\xfc\xff\xff\xff":
                    entry = il + 8
                    n = (sh_len - 2 * il - 12) // entry
                    for i in range(n):
                        e = sh_off + il + 8 + i * entry
                        c = _Col()
                        c.offset = self._uint(e)
                        c.width = self._u32(e + il)
                        c.ctype = self.data[e + il + 6]
                        self.columns.append(c)
                elif sig == b"\xfe\xfb\xff\xff":
                    e = sh_off
                    self._fmt_refs.append(
                        (self._u16(e + 22 + 3 * il), self._u16(e + 24 + 3 * il),
                         self._u16(e + 26 + 3 * il))
                    )
                elif compr == 4 or (self.compression and sh_type == 1):
                    self._data_subheaders.append((sh_off, sh_len, compr))

    def _text(self, ref: tuple[int, int, int]) -> str:
        idx, off, ln = ref
        if idx >= len(self._texts):
            return ""
        blob = self._texts[idx]
        # offsets index into the blob that starts right after the
        # signature word (which _texts already stripped)
        return blob[off : off + ln].decode(self.encoding, "replace").strip()

    def _bind_columns(self):
        for i, c in enumerate(self.columns):
            if i < len(self._name_refs):
                c.name = self._text(self._name_refs[i]) or f"col{i}"
            else:
                c.name = f"col{i}"
            if i < len(self._fmt_refs):
                c.fmt = self._text(self._fmt_refs[i]).upper()

    # -------------------------------------------------------------- rows
    def _decompress(self, raw: bytes) -> bytes:
        if self.compression == "RDC":
            return self._decompress_rdc(raw)
        out = bytearray()
        i, n = 0, len(raw)
        want = self.row_length
        while i < n and len(out) < want:
            ctrl, low = raw[i] & 0xF0, raw[i] & 0x0F
            i += 1
            if ctrl == 0x00:
                cnt = low * 256 + raw[i] + 64
                i += 1
                out += raw[i : i + cnt]
                i += cnt
            elif ctrl == 0x40:
                cnt = low * 256 + raw[i] + 18
                i += 1
                out += bytes([raw[i]]) * cnt
                i += 1
            elif ctrl == 0x60:
                cnt = low * 256 + raw[i] + 17
                i += 1
                out += b"\x20" * cnt
            elif ctrl == 0x70:
                cnt = low * 256 + raw[i] + 17
                i += 1
                out += b"\x00" * cnt
            elif ctrl in (0x80, 0x90, 0xA0, 0xB0):
                cnt = low + 1 + {0x80: 0, 0x90: 16, 0xA0: 32, 0xB0: 48}[ctrl]
                out += raw[i : i + cnt]
                i += cnt
            elif ctrl == 0xC0:
                out += bytes([raw[i]]) * (low + 3)
                i += 1
            elif ctrl == 0xD0:
                out += b"\x40" * (low + 2)
            elif ctrl == 0xE0:
                out += b"\x20" * (low + 2)
            elif ctrl == 0xF0:
                out += b"\x00" * (low + 2)
        return bytes(out)

    def _decompress_rdc(self, raw: bytes) -> bytes:
        """RDC (Ross Data Compression, "SASYZCR2"): a 16-bit big-endian
        control word gates each token MSB-first — control bit clear is
        a literal byte; set selects by the next byte's high nibble:
        0 = short RLE (count = low+3, fill byte follows), 1 = long RLE
        (count = low + next<<4 + 19, fill byte follows), 2 = long
        back-reference (offset = low+3 + next<<4, count = next+16),
        3..15 = short back-reference of cmd bytes (offset = low+3 +
        next<<4). Documented publicly in the sas7bdat format writeups
        the parso library (the reference's reader) implements."""
        out = bytearray()
        i, n = 0, len(raw)
        want = self.row_length
        ctrl_bits = 0
        ctrl_mask = 0
        while i < n and len(out) < want:
            ctrl_mask >>= 1
            if ctrl_mask == 0:
                if i + 1 >= n:
                    break
                ctrl_bits = (raw[i] << 8) | raw[i + 1]
                i += 2
                ctrl_mask = 0x8000
            if not (ctrl_bits & ctrl_mask):
                out.append(raw[i])
                i += 1
                continue
            cmd = (raw[i] >> 4) & 0x0F
            cnt = raw[i] & 0x0F
            i += 1
            if cmd == 0:  # short RLE
                cnt += 3
                out += bytes([raw[i]]) * cnt
                i += 1
            elif cmd == 1:  # long RLE
                cnt += (raw[i] << 4) + 19
                i += 1
                out += bytes([raw[i]]) * cnt
                i += 1
            elif cmd == 2:  # long pattern
                ofs = cnt + 3 + (raw[i] << 4)
                i += 1
                cnt = raw[i] + 16
                i += 1
                for _ in range(cnt):  # may self-overlap
                    out.append(out[-ofs])
            else:  # short pattern: cmd bytes
                ofs = cnt + 3 + (raw[i] << 4)
                i += 1
                for _ in range(cmd):
                    out.append(out[-ofs])
        return bytes(out)

    def iter_rows(self):
        emitted = 0
        for page_off in self._page_iter():
            if emitted >= self.row_count:
                break
            bit = 32 if self.u64 else 16
            ptype = self._u16(page_off + bit)
            n_sub = self._u16(page_off + bit + 4)
            block_count = self._u16(page_off + bit + 2)
            plen = 24 if self.u64 else 12
            if ptype in _PAGE_DATA:
                base = page_off + bit + 8
                for r in range(block_count):
                    if emitted >= self.row_count:
                        break
                    yield self.data[base + r * self.row_length :
                                    base + (r + 1) * self.row_length]
                    emitted += 1
            elif ptype in _PAGE_MIX:
                base = page_off + bit + 8 + n_sub * plen
                base += (-base) % 8
                n = min(self.mix_page_row_count, self.row_count - emitted)
                for r in range(n):
                    yield self.data[base + r * self.row_length :
                                    base + (r + 1) * self.row_length]
                    emitted += 1
            elif ptype in _PAGE_META and self.compression:
                for sh_off, sh_len, compr, _sh_type in self._pointers(page_off):
                    if emitted >= self.row_count:
                        break
                    sig = self._signature(sh_off) if sh_len else b""
                    if sh_len and sig not in _KNOWN_SIGS and compr in (0, 4):
                        raw = self.data[sh_off : sh_off + sh_len]
                        row = self._decompress(raw) if sh_len < self.row_length or compr == 4 else raw
                        if len(row) >= self.row_length:
                            yield row[: self.row_length]
                            emitted += 1

    def decode_value(self, row: bytes, c: _Col):
        raw = row[c.offset : c.offset + c.width]
        if c.ctype == 2 or c.width > 8:
            return raw.decode(self.encoding, "replace").strip() or None
        if c.width < 3:
            return None
        if self.bo == "<":
            full = b"\x00" * (8 - c.width) + raw
        else:
            full = raw + b"\x00" * (8 - c.width)
        (v,) = struct.unpack(self.bo + "d", full)
        if v != v:  # NaN encodes SAS missing
            return None
        fmt = c.fmt
        if fmt in _DATE_FORMATS:
            return (_SAS_EPOCH + datetime.timedelta(days=v)).date()
        if fmt in _DATETIME_FORMATS:
            return _SAS_EPOCH + datetime.timedelta(seconds=v)
        if fmt in _TIME_FORMATS:
            return (datetime.datetime.min + datetime.timedelta(seconds=v)).time()
        return v


_KNOWN_SIGS = {
    b"\xf7\xf7\xf7\xf7", b"\xf6\xf6\xf6\xf6", b"\xfd\xff\xff\xff",
    b"\xff\xff\xff\xff", b"\xfc\xff\xff\xff", b"\xfe\xfb\xff\xff",
    b"\xfe\xff\xff\xff", b"\x00\xfc\xff\xff", b"\xff\xfc\xff\xff",
}


def decode_sas(data: bytes) -> tuple[SasFile, list[dict]]:
    f = SasFile(data)
    rows = [
        {c.name: f.decode_value(row, c) for c in f.columns} for row in f.iter_rows()
    ]
    return f, rows


def _col_sql_type(c: _Col) -> str:
    if c.ctype == 2 or c.width > 8:
        return "string"
    if c.fmt in _DATE_FORMATS:
        return "date"
    if c.fmt in _DATETIME_FORMATS:
        return "timestamp"
    if c.fmt in _TIME_FORMATS:
        return "string"  # Spark has no TIME type; HH:MM:SS text
    return "double"


_META_COLS = (
    "_compression_method string, _file_label string, _file_type string, "
    "_os_name string, _os_type string, _sas_release string, "
    "_session_encoding string, _server_type string, "
    "_date_created date, _date_modified date"
)


def read_sas(spark: SparkSession, path: str) -> DataFrame:
    """Distributed .sas7bdat read; column surface = SasBatchReader.java
    (typed data columns + implicit metadata columns)."""
    import pandas as pd

    files = list_files(path, "sas")

    with open(files[0], "rb") as fh:
        f0 = SasFile(fh.read())
    schema = ", ".join(
        [f"`{c.name}` {_col_sql_type(c)}" for c in f0.columns] + [_META_COLS]
    )
    data_cols = [c.name for c in f0.columns]
    time_cols = {c.name for c in f0.columns if c.ctype == 1 and c.fmt in _TIME_FORMATS}
    meta_names = [s.strip().split()[0] for s in _META_COLS.split(",")]

    def decode_partition(batches):
        for pdf in batches:
            for fpath in pdf["path"]:
                with open(fpath, "rb") as fh:
                    f, rows = decode_sas(fh.read())
                meta = {
                    "_compression_method": f.compression,
                    "_file_label": f.file_label or None,
                    "_file_type": f.file_type or None,
                    "_os_name": f.os_name or None,
                    "_os_type": f.os_type or None,
                    "_sas_release": f.sas_release or None,
                    "_session_encoding": None,
                    "_server_type": f.server_type or None,
                    "_date_created": f.date_created,
                    "_date_modified": f.date_modified,
                }
                for r in rows:
                    for tc in time_cols:
                        if isinstance(r.get(tc), datetime.time):
                            r[tc] = r[tc].strftime("%H:%M:%S")
                    r.update(meta)
                yield pd.DataFrame.from_records(rows, columns=data_cols + meta_names)

    return scan_files(spark, files, decode_partition, schema)
