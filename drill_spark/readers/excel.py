"""Excel (.xlsx) reader — no external dependency.

Drill reference: contrib/format-excel (ExcelBatchReader.java, Apache
POI-backed) reads one sheet as a table, first row as headers. The
xlsx container is public: a zip holding workbook XML — sheet registry
(xl/workbook.xml + its .rels), shared strings (xl/sharedStrings.xml),
and per-sheet cell grids (xl/worksheets/sheetN.xml) — parsed here with
the standard-library zipfile + ElementTree.

Scale: spreadsheets are small driver-side artifacts with no splittable
layout (the reference's POI reader is likewise single-fragment); the
parsed rows are distributed via session.local_frame and everything
downstream is ordinary Catalyst.

Cell typing: t="s" shared string, t="inlineStr" inline, t="b" boolean,
t="str" formula result, bare v numeric. A column is DOUBLE when every
non-empty cell is numeric, else STRING (Drill's excel reader similarly
resolves per-column types).
"""

from __future__ import annotations

import re
import zipfile
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from drill_spark.session import local_frame

_NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
_REL_NS = {"r": "http://schemas.openxmlformats.org/package/2006/relationships"}
_RID = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"


def _col_index(ref: str) -> int:
    """'A1' -> 0, 'AB7' -> 27."""
    idx = 0
    for ch in ref:
        if not ch.isalpha():
            break
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1


def _shared_strings(z: zipfile.ZipFile) -> list[str]:
    try:
        root = ET.fromstring(z.read("xl/sharedStrings.xml"))
    except KeyError:
        return []
    out = []
    for si in root.findall("m:si", _NS):
        out.append("".join(t.text or "" for t in si.iter(f"{{{_NS['m']}}}t")))
    return out


def _sheet_path(z: zipfile.ZipFile, sheet: str | int) -> str:
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    targets = {rel.get("Id"): rel.get("Target") for rel in rels.findall("r:Relationship", _REL_NS)}
    sheets = wb.findall("m:sheets/m:sheet", _NS)
    if isinstance(sheet, int):
        if sheet >= len(sheets):
            raise ValueError(f"sheet index {sheet} out of range ({len(sheets)} sheets)")
        chosen = sheets[sheet]
    else:
        by_name = {s.get("name"): s for s in sheets}
        if sheet not in by_name:
            raise ValueError(f"sheet {sheet!r} not found; have {sorted(by_name)}")
        chosen = by_name[sheet]
    target = targets[chosen.get(_RID)]
    return target if target.startswith("xl/") else f"xl/{target}"


def parse_xlsx(data_or_path, sheet: str | int = 0, header: bool = True):
    """Parse one sheet -> (column names, rows as lists of str|float|None)."""
    with zipfile.ZipFile(data_or_path) as z:
        strings = _shared_strings(z)
        root = ET.fromstring(z.read(_sheet_path(z, sheet)))
    grid: list[dict[int, object]] = []
    for row in root.findall("m:sheetData/m:row", _NS):
        cells: dict[int, object] = {}
        for c in row.findall("m:c", _NS):
            ref = c.get("r") or ""
            t = c.get("t", "n")
            if t == "inlineStr":
                is_el = c.find("m:is", _NS)
                v = "".join(tt.text or "" for tt in is_el.iter(f"{{{_NS['m']}}}t")) if is_el is not None else None
            else:
                v_el = c.find("m:v", _NS)
                if v_el is None or v_el.text is None:
                    v = None
                elif t == "s":
                    v = strings[int(v_el.text)]
                elif t == "b":
                    v = v_el.text == "1"
                elif t == "str":
                    v = v_el.text
                else:
                    v = float(v_el.text)
            cells[_col_index(ref)] = v
        grid.append(cells)
    if not grid:
        return [], []
    width = max(max(r, default=-1) for r in grid) + 1
    rows = [[r.get(i) for i in range(width)] for r in grid]
    if header:
        names = [str(v) if v is not None else f"col{i}" for i, v in enumerate(rows[0])]
        rows = rows[1:]
    else:
        names = [f"col{i}" for i in range(width)]
    return names, rows


def read_excel(spark: SparkSession, path: str, sheet: str | int = 0, header: bool = True) -> DataFrame:
    """One sheet as a DataFrame; per-column DOUBLE when every non-empty
    cell is numeric, else STRING."""
    names, rows = parse_xlsx(path, sheet=sheet, header=header)
    if not names:
        return local_frame(spark, [], "empty string")
    ncols = len(names)
    numeric = [
        all(isinstance(r[i], (int, float)) and not isinstance(r[i], bool) for r in rows if r[i] is not None)
        and any(r[i] is not None for r in rows)
        for i in range(ncols)
    ]
    typed = [
        tuple(
            (float(v) if numeric[i] else (None if v is None else str(v) if not isinstance(v, float) else ("%g" % v)))
            if v is not None
            else None
            for i, v in enumerate(r)
        )
        for r in rows
    ]
    safe = [re.sub(r"\W", "_", n) for n in names]
    schema = ", ".join(f"`{n}` {'double' if numeric[i] else 'string'}" for i, n in enumerate(safe))
    return local_frame(spark, typed, schema)


def _cell_ref(row: int, col: int) -> str:
    """(row, col) -> A1-style reference; row is 1-based, col is
    0-based (col=0 -> 'A')."""
    name = ""
    c = col
    while True:
        name = chr(ord("A") + (c % 26)) + name
        c = c // 26 - 1
        if c < 0:
            break
    return f"{name}{row}"


def write_xlsx(path: str, columns: list[str], rows, sheet: str = "Sheet1") -> None:
    """Minimal standards-complete .xlsx writer (driver-side artifact —
    spreadsheets are small by nature, mirroring the POI writer's
    single-fragment shape). Numbers become native numeric cells,
    everything else inline strings; first row is the header. Includes
    [Content_Types].xml and package rels so any OOXML consumer (Excel,
    POI, pandas) opens the file, not just this package's reader."""
    m = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

    def esc(s: str) -> str:
        # quote-escaped too: esc() output also lands inside
        # double-quoted XML attributes (the sheet name).
        return (str(s).replace("&", "&amp;").replace("<", "&lt;")
                .replace(">", "&gt;").replace('"', "&quot;"))

    def cell(r: int, c: int, v) -> str:
        ref = _cell_ref(r, c)
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v!r}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{esc(v)}</t></is></c>'

    body = ['<row r="1">' + "".join(
        cell(1, i, n) for i, n in enumerate(columns)) + "</row>"]
    for j, row in enumerate(rows, start=2):
        vals = [row.get(c) for c in columns] if isinstance(row, dict) else list(row)
        body.append(f'<row r="{j}">' + "".join(
            cell(j, i, v) for i, v in enumerate(vals)) + "</row>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(
            "[Content_Types].xml",
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>")
        z.writestr(
            "_rels/.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rns}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>")
        z.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{m}" xmlns:r="{rns}"><sheets>'
            f'<sheet name="{esc(sheet)}" sheetId="1" r:id="rId1"/>'
            "</sheets></workbook>")
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rns}/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>")
        z.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{m}"><sheetData>' + "".join(body)
            + "</sheetData></worksheet>")
