"""PDF table-extraction format reader (contrib/format-pdf parity).

Reference behavior (PdfBatchReader.java / PdfUtils.java, validated
against TestPdfFormat.java): tables are detected per page (Nurminen
method) and extracted with the *basic* (default) or *spreadsheet*
algorithm; with ``combine_pages=False`` only ``default_table_index``
is read, else all tables concatenate (each subsequent table's first
row skipped when headers are extracted). The first row of the first
table names the columns when ``extract_headers`` (empty/duplicate
headers become ``field_N``); otherwise every column is ``field_N`` and
the first row is data. Document metadata rides along as implicit
columns (``_page_count``, ``_title`` … ``_table_count``). Encrypted
files take a ``password``.

Scale: one PDF is one task (a document is parsed whole — the same
unit of work the reference's one-reader-per-file model uses); a
directory of PDFs fans out one file per Spark task via mapInPandas,
so a million-PDF corpus parallelizes across the cluster while the
driver only lists file names and probes ONE file for the schema.
"""

from __future__ import annotations

import datetime
import re
import unicodedata

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from drill_spark.readers.formats import list_files, scan_files
from drill_spark.readers.pdf_core import (
    PdfDocument,
    parse_pdf_date,
    pdf_string_to_text,
)
from drill_spark.readers.pdf_tabula import (
    basic_extract,
    detect_tables,
    merge_words,
    spreadsheet_extract,
)
from drill_spark.readers.pdf_text import extract_page

_META_COLS = [
    ("_page_count", T.IntegerType()),
    ("_title", T.StringType()),
    ("_author", T.StringType()),
    ("_subject", T.StringType()),
    ("_keywords", T.StringType()),
    ("_creator", T.StringType()),
    ("_producer", T.StringType()),
    ("_creation_date", T.TimestampType()),
    ("_modification_date", T.TimestampType()),
    ("_trapped", T.StringType()),
    ("_table_count", T.IntegerType()),
]


def _fix_bidi(text: str) -> str:
    """Visual-order RTL text -> logical order (PDFBox normalizes this
    before tabula sees it): RTL runs are character-reversed BEFORE
    NFKC folding (so lam-alef ligatures unfold in logical order), and
    when the dominant strong direction is RTL the run order reverses
    too; an LTR-dominant line keeps its run order with embedded RTL
    words fixed in place."""
    if not any("\u0590" <= ch <= "\u08ff" or "\ufb1d" <= ch <= "\ufefc" for ch in text):
        return text

    def is_rtl(ch: str) -> bool:
        return unicodedata.bidirectional(ch) in ("R", "AL", "AN")

    n_rtl = sum(1 for ch in text if is_rtl(ch))
    n_ltr = sum(1 for ch in text if unicodedata.bidirectional(ch) == "L")
    rtl_para = n_rtl >= n_ltr

    runs: list[tuple[str, list[str]]] = []  # (kind, chars)
    for ch in text:
        kind = "R" if is_rtl(ch) else ("N" if not ch.isalnum() else "L")
        if runs and (runs[-1][0] == kind or (kind == "N" and runs[-1][0] == "R")):
            runs[-1][1].append(ch)
        elif runs and runs[-1][0] == "N" and kind == "R":
            runs[-1] = ("R", runs[-1][1] + [ch])
        else:
            runs.append((kind, [ch]))
    ordered = list(reversed(runs)) if rtl_para else runs
    out: list[str] = []
    for kind, chars in ordered:
        rev = kind == "R" or (rtl_para and kind == "N")
        seg = "".join(reversed(chars)) if rev else "".join(chars)
        out.append(unicodedata.normalize("NFKC", seg))
    return "".join(out)


def _clean_cell(text: str) -> str | None:
    text = text.replace("\xa0", " ").strip()
    text = _fix_bidi(text)
    return text if text else None


def extract_pdf(data: bytes, password: str = "", algorithm: str = "basic"):
    """Parse one PDF -> (tables, metadata dict). Each table is a list
    of rows of Optional[str]; metadata matches the implicit columns."""
    doc = PdfDocument(data, password=password)
    pages = doc.pages()
    tables: list[list[list[str | None]]] = []
    for pg in pages:
        els, rulings, w, h = extract_page(doc, pg)
        chunks = merge_words(els)
        for region in detect_tables(chunks, rulings, w, h):
            if algorithm == "spreadsheet":
                rows = spreadsheet_extract(chunks, rulings, region)
            else:
                rows = basic_extract(chunks, region)
            if rows:
                tables.append([[_clean_cell(c) for c in row] for row in rows])

    info = doc.info()

    def txt(key):
        v = info.get(key)
        return pdf_string_to_text(v) if v is not None else None

    def ts(key):
        ms = parse_pdf_date(info.get(key))
        if ms is None:
            return None
        return datetime.datetime.fromtimestamp(ms / 1000.0, datetime.timezone.utc).replace(
            tzinfo=None
        )

    meta = {
        "_page_count": len(pages),
        "_title": txt("Title"),
        "_author": txt("Author"),
        "_subject": txt("Subject"),
        "_keywords": txt("Keywords"),
        "_creator": txt("Creator"),
        "_producer": txt("Producer"),
        "_creation_date": ts("CreationDate"),
        "_modification_date": ts("ModDate"),
        "_trapped": txt("Trapped"),
        "_table_count": len(tables),
    }
    return tables, meta


def _column_names(first_row: list, extract_headers: bool) -> list[str]:
    names: list[str] = []
    unnamed = 0
    for cell in first_row:
        name = (cell or "").strip() if extract_headers else ""
        if not name or name in names:
            name = f"field_{unnamed}"
            unnamed += 1
        names.append(name)
    return names


def _rows_for_file(data: bytes, password: str, algorithm: str,
                   combine_pages: bool, extract_headers: bool,
                   table_index: int):
    """(column_names, data_rows, meta) per the reference's row flow."""
    tables, meta = extract_pdf(data, password=password, algorithm=algorithm)
    if not tables:
        return [], [], meta
    if combine_pages:
        chosen = tables
    else:
        if table_index >= len(tables):
            raise IndexError(
                f"The specified table index {table_index} does not exist in this file."
            )
        chosen = [tables[table_index]]
    names = _column_names(chosen[0][0], extract_headers)
    rows: list[list] = []
    for ti, tbl in enumerate(chosen):
        body = tbl
        if ti == 0:
            if extract_headers:
                body = tbl[1:]
        elif extract_headers:
            body = tbl[1:]  # skip the repeated header of subsequent tables
        for row in body:
            fixed = list(row[:len(names)]) + [None] * max(0, len(names) - len(row))
            rows.append(fixed)
    return names, rows, meta


def read_pdf(
    spark: SparkSession,
    path: str,
    combine_pages: bool = False,
    extract_headers: bool = True,
    default_table_index: int = 0,
    algorithm: str = "basic",
    password: str = "",
) -> DataFrame:
    """Read PDF table rows as a DataFrame, one file per task.

    Schema (column names) is probed from the FIRST file on the driver;
    every file's rows are then extracted on executors."""
    import pandas as pd

    files = list_files(path, "pdf")

    with open(files[0], "rb") as f:
        head_names, _, _ = _rows_for_file(
            f.read(), password, algorithm, combine_pages, extract_headers,
            default_table_index,
        )

    fields = [T.StructField(n, T.StringType()) for n in head_names]
    fields += [T.StructField(n, t) for n, t in _META_COLS]
    schema = T.StructType(fields)
    meta_names = [n for n, _ in _META_COLS]

    def scan(batches):
        for pdf_batch in batches:
            for fpath in pdf_batch["path"]:
                with open(fpath, "rb") as fh:
                    names, rows, meta = _rows_for_file(
                        fh.read(), password, algorithm, combine_pages,
                        extract_headers, default_table_index,
                    )
                meta_vals = {k: meta.get(k) for k in meta_names}
                if not rows:
                    # no-tables special case: one metadata-only row
                    out = [{**{n: None for n in head_names}, **meta_vals}]
                else:
                    out = [
                        {**dict(zip(head_names, r)), **meta_vals}
                        for r in rows
                    ]
                yield pd.DataFrame.from_records(out, columns=[f.name for f in fields])

    return scan_files(spark, files, scan, schema)


def write_pdf_table(path: str, header: list[str], rows: list[list],
                    title: str | None = None) -> None:
    """Write a minimal single-page-per-60-rows tabular PDF (ISO 32000-1
    classic xref, uncompressed streams, WinAnsi Helvetica). Exists so
    the scan path can be exercised against spec-built files, like the
    HDF5/SPSS fixture writers."""
    ncols = len(header)
    col_w = 540.0 / max(ncols, 1)
    font_size, lead = 9, 14
    pages_rows: list[list[list]] = []
    per_page = 50
    for i in range(0, len(rows), per_page):
        pages_rows.append(rows[i:i + per_page])
    if not pages_rows:
        pages_rows = [[]]

    def esc(s: str) -> bytes:
        b = str(s).encode("cp1252", "replace")
        return b.replace(b"\\", rb"\\").replace(b"(", rb"\(").replace(b")", rb"\)")

    objs: list[bytes] = []  # 1-indexed bodies, object n = index+1

    page_ids = []
    first_content_id = 4
    n_pages = len(pages_rows)
    # obj 1 catalog, 2 pages, 3 font; then content,page per page
    for pi, prows in enumerate(pages_rows):
        content = bytearray()
        y = 770.0
        if title and pi == 0:
            content += b"BT /F1 12 Tf 36 %d Td (%s) Tj ET\n" % (int(y), esc(title))
            y -= 2 * lead
        table = [header] + prows
        for row in table:
            for ci, cell in enumerate(row):
                if cell is None or str(cell) == "":
                    continue
                x = 36 + ci * col_w
                content += b"BT /F1 %d Tf %.1f %.1f Td (%s) Tj ET\n" % (
                    font_size, x, y, esc(cell))
            y -= lead
        content = bytes(content)
        cid = first_content_id + 2 * pi
        pid = cid + 1
        page_ids.append(pid)
        objs.append((cid, b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content)))
        objs.append((pid, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                     b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>" % cid))

    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    fixed = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, n_pages)),
        (3, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /WinAnsiEncoding >>"),
    ]
    all_objs = sorted(fixed + objs)
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num, body in all_objs:
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_off = len(out)
    n = max(offsets) + 1
    out += b"xref\n0 %d\n" % n
    out += b"0000000000 65535 f \n"
    for i in range(1, n):
        out += b"%010d 00000 n \n" % offsets[i]
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (n, xref_off))
    with open(path, "wb") as f:
        f.write(bytes(out))
