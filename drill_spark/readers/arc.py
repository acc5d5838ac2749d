"""ARC legacy web-archive reader + writer (pre-WARC Internet Archive /
early Common Crawl format) — no external dependency.

ARC 1.x (the Internet Archive's published ARC_IA spec, the format of
every pre-2013 Common Crawl snapshot) is simpler than WARC: a record
is ONE space-separated header line terminated by ``\\n`` —
``URL IP-address archive-date content-type length`` (v1) or the
10-field v2 variant that inserts ``result-code checksum location
offset filename`` before the length — followed by exactly ``length``
payload bytes and a separating ``\\n``. The first record of a file is
the ``filedesc://`` version block. HTTP captures carry the full HTTP
response (status line + headers + body) as payload; like the WARC
reader, the HTTP envelope is split out so the payload column is the
body.

Scale: ``.arc.gz`` uses the same record-at-time gzip-member convention
as WARC, so the reader shares warc.py's byte-range split machinery —
only the member VALIDATOR differs (an ARC header line instead of a
``WARC/`` header block). Uncompressed ``.arc`` has no self-delimiting
record boundary that can be resynchronized mid-file (a ``\\n`` +
URL-ish line also occurs inside payloads), so plain files are read at
file granularity — documented, and moot in practice: archived ARC data
is gzipped.
"""

from __future__ import annotations

import datetime
import gzip
import hashlib
import io
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drill_spark.readers.formats import list_files, scan_files
from drill_spark.readers.warc import _CRLF2, _iter_gz_members

ARC_SCHEMA = (
    "url string, ip string, arc_date timestamp, mime_type string, "
    "content_length long, http_status int, http_content_type string, "
    "payload binary, file string, record_offset long"
)

_ARC_DATE_RE = re.compile(rb"^\d{14}$")
_URL_RE = re.compile(rb"^[a-zA-Z][a-zA-Z0-9+.-]*://\S+$")


def _arc_header_fields(line: bytes) -> list[bytes] | None:
    """Validate + split one ARC header line (v1: 5 fields, v2: 10).
    Returns None when the line is not a plausible ARC record header."""
    f = line.split(b" ")
    if len(f) not in (5, 10):
        return None
    if not (_URL_RE.match(f[0]) and _ARC_DATE_RE.match(f[2])
            and f[-1].isdigit()):
        return None
    return f


def _arc_prefix_ok(out: bytes) -> bool:
    nl = out.find(b"\n")
    if nl < 0:
        return False
    return _arc_header_fields(out[:nl]) is not None


def _parse_arc_date(s: str):
    try:
        return datetime.datetime.strptime(s, "%Y%m%d%H%M%S")
    except ValueError:
        return None


def _arc_records(buf: bytes, offset: int, path: str) -> list[dict]:
    """Parse every ARC record in a decompressed member buffer."""
    rows = []
    pos = 0
    n = len(buf)
    while pos < n:
        nl = buf.find(b"\n", pos)
        if nl < 0:
            break
        fields = _arc_header_fields(buf[pos:nl])
        if fields is None:
            break  # trailing padding / version-block body
        length = int(fields[-1])
        block = buf[nl + 1:nl + 1 + length]
        if len(block) != length:
            raise ValueError(f"{path}: truncated ARC record at member+{pos}")
        http_status = None
        http_ctype = None
        payload = block
        if block[:5] == b"HTTP/":
            sep = block.find(_CRLF2)
            head = block[:sep] if sep >= 0 else block
            payload = block[sep + 4:] if sep >= 0 else b""
            lines = head.split(b"\r\n")
            parts = lines[0].split()
            if len(parts) >= 2 and parts[1].isdigit():
                http_status = int(parts[1])
            for ln in lines[1:]:
                k, _, v = ln.partition(b":")
                if k.strip().lower() == b"content-type":
                    http_ctype = v.strip().decode("latin-1")
        rows.append({
            "url": fields[0].decode("utf-8", "replace"),
            "ip": fields[1].decode("latin-1"),
            "arc_date": _parse_arc_date(fields[2].decode("latin-1")),
            "mime_type": fields[3].decode("latin-1"),
            "content_length": length,
            "http_status": http_status,
            "http_content_type": http_ctype,
            "payload": bytes(payload),
            "file": path,
            "record_offset": offset,
        })
        pos = nl + 1 + length + 1  # separating newline
    return rows


def read_arc(
    spark: SparkSession, path, split_bytes: int = 32 << 20
) -> DataFrame:
    """Distributed ARC scan: byte-range tasks over ``.arc.gz`` via the
    shared validated-gzip-member contract (warc.py); plain ``.arc``
    at file granularity (no resynchronizable boundary — see module
    docstring)."""
    import pandas as pd

    files = list_files(path, "arc")
    sizes = {f: os.path.getsize(f) for f in files}
    # scale-adaptive split size, same contract as readers/warc.py:
    # split_bytes caps task granularity; small inputs split finer so
    # the decode fills the cluster.
    par = max(1, spark.sparkContext.defaultParallelism)
    eff = min(split_bytes, max(sum(sizes.values()) // par, 64 << 10))
    splits: list[tuple[str, int, int]] = []
    for f in files:
        size = sizes[f]
        n = max(1, size // eff) if f.endswith(".gz") else 1
        bounds = [size * i // n for i in range(n + 1)]
        splits.extend((f, bounds[i], bounds[i + 1]) for i in range(n))

    cols = [c.strip().split(" ")[0] for c in ARC_SCHEMA.split(",")]

    def decode_partition(batches):
        # bounded-chunk yield, same rationale as readers/warc.py
        chunk = 512

        def row_iter(fpath, s, e):
            if fpath.endswith(".gz"):
                for off, _ln, buf in _iter_gz_members(
                        fpath, int(s), int(e), check=_arc_prefix_ok):
                    yield from _arc_records(buf, off, fpath)
            else:
                with open(fpath, "rb") as fh:
                    yield from _arc_records(fh.read(), 0, fpath)

        for pdf in batches:
            for fpath, s, e in zip(pdf["path"], pdf["start"], pdf["end"]):
                rows: list[dict] = []
                for r in row_iter(fpath, s, e):
                    rows.append(r)
                    if len(rows) >= chunk:
                        yield pd.DataFrame.from_records(rows, columns=cols)
                        rows = []
                yield pd.DataFrame.from_records(rows, columns=cols)

    return scan_files(spark, splits, decode_partition, ARC_SCHEMA)


def write_arc(
    df: DataFrame,
    out_dir: str,
    compress: bool = True,
    http_content_type: str = "text/html; charset=UTF-8",
) -> list[str]:
    """Distributed ARC v1 writer (fixture/interop path): one part file
    per partition, a leading ``filedesc://`` version block, one record
    per row wrapped in an HTTP 200 envelope, each record its own gzip
    member when ``compress``. Expected columns: ``url`` plus
    ``payload`` (binary) or ``text`` (string); optional ``arc_date``."""
    os.makedirs(out_dir, exist_ok=True)
    suffix = ".arc.gz" if compress else ".arc"

    def _gz(raw: bytes) -> bytes:
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
            g.write(raw)
        return buf.getvalue()

    def write_partition(batches):
        # Stream records to a spool file (never the whole partition in
        # RAM); prefix the filedesc block and rename once drained.
        import pandas as pd
        import tempfile

        spool = None
        first_tag = None
        n_recs = 0
        for pdf in batches:
            for row in pdf.to_dict("records"):
                url = str(row.get("url"))
                body = row.get("payload")
                if not isinstance(body, (bytes, bytearray)):
                    body = str(row.get("text", "")).encode("utf-8")
                body = bytes(body)
                d = row.get("arc_date")
                date = ("20200101000000" if d is None or d is pd.NaT
                        else pd.Timestamp(d).strftime("%Y%m%d%H%M%S"))
                http = (
                    b"HTTP/1.1 200 OK\r\n"
                    + f"Content-Type: {http_content_type}\r\n".encode("latin-1")
                    + f"Content-Length: {len(body)}\r\n\r\n".encode("latin-1")
                    + body
                )
                hdr = (f"{url} 127.0.0.1 {date} text/html "
                       f"{len(http)}\n").encode("utf-8")
                enc = (_gz(hdr + http + b"\n") if compress
                       else hdr + http + b"\n")
                if spool is None:
                    first_tag = hashlib.md5(enc).hexdigest()[:16]
                    spool = tempfile.NamedTemporaryFile(
                        dir=out_dir, suffix=".spool", delete=False)
                spool.write(enc)
                n_recs += 1
        if spool is not None:
            spool.close()
            fname = os.path.join(
                out_dir, f"part-{first_tag}-{n_recs}{suffix}")
            vb = b"1 0 drill-spark\nURL IP-address Archive-date Content-type Archive-length\n"
            fd = (f"filedesc://{os.path.basename(fname)} 127.0.0.1 "
                  f"20200101000000 text/plain {len(vb)}\n").encode() + vb + b"\n"
            with open(fname, "wb") as f:
                f.write(_gz(fd) if compress else fd)
                with open(spool.name, "rb") as src:
                    while True:
                        chunk = src.read(1 << 20)
                        if not chunk:
                            break
                        f.write(chunk)
            os.unlink(spool.name)
            yield pd.DataFrame({"file": [fname], "rows": [n_recs]})

    manifest = df.mapInPandas(write_partition, "file string, rows long").collect()
    return [r["file"] for r in manifest]
