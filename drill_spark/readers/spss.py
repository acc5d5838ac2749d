"""SPSS ``.sav`` format reader — statistical datasets as tables.

Drill reference: contrib/format-spss (store/spss/SpssBatchReader.java)
reads SPSS system files through the com.bedatadriven.spss library and
emits, per variable: a FLOAT8 column named after the variable (strings
as VARCHAR), plus — when the variable carries value labels — a
``<name>_value`` VARCHAR column holding the label for each row's code.
This module reproduces that surface from the public system-file layout
(documented in GNU PSPP's "System File Format" appendix):

- 176-byte header (``$FL2`` magic, layout code → byte order, nominal
  case size, compression flag, case count, compression bias);
- dictionary records: type 2 variables (numeric / string width /
  continuation, optional variable label, missing-value doubles),
  type 3+4 value labels with their 1-based element indices, type 6
  documents, type 7 extensions (subtype 13 long variable names,
  subtype 20 encoding), type 999 terminator;
- case data, either raw 8-byte elements or bytecode-compressed
  (command bytes in groups of 8: 1..251 biased values, 253 literal
  element follows, 254 all-spaces, 255 system-missing).

Validated against the reference plugin's own binary fixture
(testdata.sav, read in place from the reference tree) reproducing the
row count and cell values its TestSpssReader asserts.

Scale shape: one mapInPandas task per ``.sav`` file (the format is a
single sequential stream — compression state forbids sub-file splits);
the driver parses only the first file's dictionary to fix the schema.
SPSS files are survey-scale, so file-parallelism matches reality.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from drill_spark.readers.formats import list_files, scan_files

_SYSMIS = -1.7976931348623157e308


class _Var:
    __slots__ = ("name", "width", "labels", "n_elements")

    def __init__(self, name: str, width: int):
        self.name = name
        self.width = width  # 0 = numeric, >0 = string byte width
        self.labels: dict[float, str] | None = None
        self.n_elements = 1 if width == 0 else (width + 7) // 8


class SavDictionary:
    def __init__(self, variables: list[_Var], n_cases: int, compressed: bool,
                 bias: float, bo: str, encoding: str):
        self.variables = variables
        self.n_cases = n_cases
        self.compressed = compressed
        self.bias = bias
        self.bo = bo
        self.encoding = encoding


def _parse_dictionary(data: bytes) -> tuple[SavDictionary, int]:
    """-> (dictionary, offset where case data starts)."""
    if data[:4] != b"$FL2":
        raise ValueError("not an SPSS system file (no $FL2 magic)")
    (layout,) = struct.unpack_from("<i", data, 64)
    bo = "<" if layout in (2, 3) else ">"
    compressed = struct.unpack_from(bo + "i", data, 72)[0] != 0
    n_cases = struct.unpack_from(bo + "i", data, 80)[0]
    bias = struct.unpack_from(bo + "d", data, 84)[0] or 100.0

    pos = 176
    variables: list[_Var] = []
    elements: list[_Var | None] = []  # dictionary element -> owning var
    long_names: dict[str, str] = {}
    encoding = "latin-1"
    while True:
        (rtype,) = struct.unpack_from(bo + "i", data, pos)
        pos += 4
        if rtype == 999:
            pos += 4  # filler
            break
        if rtype == 2:
            vtype, has_label, n_missing = struct.unpack_from(bo + "iii", data, pos)
            pos += 20  # type, has_label, n_missing, print_fmt, write_fmt
            name = data[pos : pos + 8].decode("latin-1").strip()
            pos += 8
            if has_label:
                (llen,) = struct.unpack_from(bo + "i", data, pos)
                pos += 4 + (llen + 3) // 4 * 4
            if n_missing:
                pos += 8 * abs(n_missing)
            if vtype == -1:  # continuation of a long string
                elements.append(None)
            else:
                v = _Var(name, max(vtype, 0))
                variables.append(v)
                elements.append(v)
        elif rtype == 3:
            (n,) = struct.unpack_from(bo + "i", data, pos)
            pos += 4
            labels: dict[float, str] = {}
            for _ in range(n):
                (val,) = struct.unpack_from(bo + "d", data, pos)
                pos += 8
                llen = data[pos]
                total = 1 + llen
                padded = (total + 7) // 8 * 8
                labels[val] = data[pos + 1 : pos + 1 + llen].decode("latin-1").strip()
                pos += padded
            (rt4,) = struct.unpack_from(bo + "i", data, pos)
            if rt4 == 4:  # variable-index record binds the labels
                (nv,) = struct.unpack_from(bo + "i", data, pos + 4)
                idx = struct.unpack_from(bo + f"{nv}i", data, pos + 8)
                pos += 8 + 4 * nv
                for i in idx:
                    owner = elements[i - 1] if 0 < i <= len(elements) else None
                    if owner is not None and owner.width == 0:
                        owner.labels = dict(labels)
        elif rtype == 6:
            (n_lines,) = struct.unpack_from(bo + "i", data, pos)
            pos += 4 + 80 * n_lines
        elif rtype == 7:
            subtype, size, count = struct.unpack_from(bo + "iii", data, pos)
            payload = data[pos + 12 : pos + 12 + size * count]
            pos += 12 + size * count
            if subtype == 13:  # long variable names: short=LONG \t ...
                for pair in payload.decode("latin-1").split("\t"):
                    if "=" in pair:
                        short, long_name = pair.split("=", 1)
                        long_names[short.strip().upper()] = long_name.strip()
            elif subtype == 20:
                try:
                    encoding = payload.decode("ascii").strip() or "latin-1"
                except UnicodeDecodeError:
                    pass
        else:
            raise ValueError(f"unknown .sav record type {rtype} at {pos - 4}")
    for v in variables:
        v.name = long_names.get(v.name.upper(), v.name)
    return SavDictionary(variables, n_cases, compressed, bias, bo, encoding), pos


def _iter_elements(data: bytes, off: int, d: SavDictionary):
    """Yield raw 8-byte elements, decompressing the bytecode stream."""
    if not d.compressed:
        while off + 8 <= len(data):
            yield data[off : off + 8]
            off += 8
        return
    unpack_d = struct.Struct(d.bo + "d").pack
    while off < len(data):
        commands = data[off : off + 8]
        off += 8
        for c in commands:
            if c == 0:
                continue
            if c == 252:
                return
            if c == 253:
                yield data[off : off + 8]
                off += 8
            elif c == 254:
                yield b"        "
            elif c == 255:
                yield unpack_d(_SYSMIS)
            else:
                yield unpack_d(float(c) - d.bias)


def decode_sav(data: bytes) -> tuple[SavDictionary, list[dict]]:
    d, off = _parse_dictionary(data)
    elems = _iter_elements(data, off, d)
    unpack_d = struct.Struct(d.bo + "d").unpack
    rows: list[dict] = []
    try:
        for _ in range(d.n_cases if d.n_cases >= 0 else 1 << 62):
            row: dict = {}
            for v in d.variables:
                if v.width == 0:
                    (val,) = unpack_d(next(elems))
                    row[v.name] = None if val == _SYSMIS else val
                    if v.labels is not None:
                        row[v.name + "_value"] = (
                            None if val == _SYSMIS else v.labels.get(val)
                        )
                else:
                    raw = b"".join(next(elems) for _ in range(v.n_elements))
                    row[v.name] = raw[: v.width].decode(d.encoding, "replace").rstrip()
            rows.append(row)
    except StopIteration:
        pass
    return d, rows


def sav_schema(d: SavDictionary) -> str:
    cols = []
    for v in d.variables:
        if v.width == 0:
            cols.append(f"`{v.name}` double")
            if v.labels is not None:
                cols.append(f"`{v.name}_value` string")
        else:
            cols.append(f"`{v.name}` string")
    return ", ".join(cols)


def write_sav(rows: list[dict], path: str,
              value_labels: dict[str, dict[float, str]] | None = None) -> None:
    """Minimal uncompressed .sav writer for tests/fixtures: numeric
    doubles and fixed-width strings per the same public layout the
    reader decodes. (The reference plugin is read-only; this exists so
    the oracle query can build spec-conformant inputs.)"""
    if not rows:
        raise ValueError("write_sav needs at least one row")
    cols = list(rows[0])
    widths: dict[str, int] = {}
    for c in cols:
        if any(isinstance(r[c], str) for r in rows):
            w = max(len(str(r[c] or "")) for r in rows)
            widths[c] = (max(w, 1) + 7) // 8 * 8
        else:
            widths[c] = 0

    out = bytearray()
    out += b"$FL2" + b"@(#) drill_spark write_sav".ljust(60)
    nominal = sum(1 if widths[c] == 0 else widths[c] // 8 for c in cols)
    out += struct.pack("<iiiii", 2, nominal, 0, 0, len(rows))
    out += struct.pack("<d", 100.0)
    out += b"01 Jan 70" + b"00:00:00" + b" " * 64 + b"\x00" * 3

    labels = value_labels or {}
    elem_index = 0
    label_binding: list[tuple[dict[float, str], int]] = []
    for c in cols:
        w = widths[c]
        out += struct.pack("<iiiiii", 2, w, 0, 0, 0, 0) + c[:8].ljust(8).encode()
        elem_index += 1
        if c in labels:
            label_binding.append((labels[c], elem_index))
        for _ in range(w // 8 - 1 if w else 0):
            out += struct.pack("<iiiiii", 2, -1, 0, 0, 0, 0) + b" " * 8
            elem_index += 1
    for lab, idx in label_binding:
        out += struct.pack("<ii", 3, len(lab))
        for val, text in lab.items():
            rec = struct.pack("<d", val) + bytes([len(text)]) + text.encode()
            out += rec + b" " * (-len(rec) % 8)
        out += struct.pack("<iii", 4, 1, idx)
    out += struct.pack("<ii", 999, 0)

    for r in rows:
        for c in cols:
            w = widths[c]
            if w == 0:
                v = r[c]
                out += struct.pack("<d", _SYSMIS if v is None else float(v))
            else:
                out += str(r[c] or "").encode("latin-1")[:w].ljust(w, b" ")
    with open(path, "wb") as f:
        f.write(bytes(out))


def read_sav(spark: SparkSession, path: str) -> DataFrame:
    """Distributed .sav read: mapInPandas over the file list; column
    surface = SpssBatchReader.java (numeric double + <name>_value label
    columns, strings as-is)."""
    import pandas as pd

    files = list_files(path, "spss")

    with open(files[0], "rb") as f:
        head = f.read()
    d0, _ = _parse_dictionary(head)
    schema = sav_schema(d0)
    cols = []
    for v in d0.variables:
        cols.append(v.name)
        if v.width == 0 and v.labels is not None:
            cols.append(v.name + "_value")

    def decode_partition(batches):
        for pdf in batches:
            for fpath in pdf["path"]:
                with open(fpath, "rb") as f:
                    _, rows = decode_sav(f.read())
                yield pd.DataFrame.from_records(rows, columns=cols)

    return scan_files(spark, files, decode_partition, schema)
