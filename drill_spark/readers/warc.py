"""WARC / WET web-archive reader + writer — no external dependency.

The reference engine has no WARC plugin; this reader is part of the
training-data-pipeline surface (SURVEY extension operators): Common
Crawl — the canonical ~100 TB public web corpus — ships as WARC
(ISO 28500 / WARC 1.1) response archives plus WET ("conversion"
record) plain-text extracts, and every published LLM curation recipe
(C4, CCNet, Gopher, RefinedWeb) starts by scanning them. The format
is implemented here directly from the public spec:

- a record is ``WARC/1.x CRLF`` + named header lines + ``CRLF CRLF``
  + exactly ``Content-Length`` block bytes + ``CRLF CRLF``;
- ``response``/``request`` records carry an HTTP message as the block
  (``Content-Type: application/http``); the reader splits status line
  / headers / body so the payload column is the HTTP BODY;
- ``conversion`` records (WET) carry extracted text directly;
- ``metadata`` records (WAT) carry the link/header JSON sidecar.

Scale story (the part that matters at 100 TB): the Common Crawl
convention compresses each record as an INDEPENDENT gzip member
("record-at-time" compression, ISO 28500 annex D), which makes a
``.warc.gz`` splittable at arbitrary byte offsets. A task seeks into
its ``[start, end)`` range, scans for the next gzip-member signature,
VALIDATES the candidate by decompressing a prefix and checking it
begins with ``WARC/`` (the 3-byte magic alone false-positives inside
compressed payloads), then decodes every member whose first byte lies
in its range — finishing a member that straddles ``end``, skipping
one that starts before ``start``. Adjoining ranges therefore decode
every record exactly once and parallelism scales with BYTES, not file
count (the Hadoop split contract, same as ``readers/avro.py``).
Uncompressed ``.warc``/``.wet`` splits on the ``CRLF CRLF WARC/``
record boundary with the same ownership rule. Nothing is collected on
the driver; records stream out through Arrow batches.
"""

from __future__ import annotations

import base64
import datetime
import gzip
import hashlib
import io
import os
import uuid
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drill_spark.readers.formats import list_files, scan_files

_GZ_MAGIC = b"\x1f\x8b\x08"
_CRLF2 = b"\r\n\r\n"

WARC_SCHEMA = (
    "warc_type string, record_id string, target_uri string, "
    "warc_date timestamp, warc_content_type string, content_length long, "
    "http_status int, http_content_type string, payload_digest string, "
    "payload binary, file string, record_offset long, record_length long"
)


# ---------------------------------------------------------------- parse

def _parse_headers(raw: bytes) -> tuple[str, dict]:
    """``WARC/1.0\\r\\nName: value...`` -> (version, {lower-name: value}).
    Continuation lines (leading SP/TAB, RFC 822 folding) append to the
    previous header."""
    lines = raw.split(b"\r\n")
    version = lines[0].decode("latin-1").strip()
    if not version.startswith("WARC/"):
        raise ValueError(f"not a WARC record header: {version[:20]!r}")
    headers: dict[str, str] = {}
    last = None
    for ln in lines[1:]:
        if not ln:
            continue
        if ln[:1] in (b" ", b"\t") and last:
            headers[last] += " " + ln.strip().decode("latin-1")
            continue
        k, _, v = ln.partition(b":")
        last = k.strip().lower().decode("latin-1")
        headers[last] = v.strip().decode("latin-1")
    return version, headers


def _parse_warc_date(s: str | None):
    if not s:
        return None
    try:
        d = datetime.datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return None
    if d.tzinfo is not None:
        d = d.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return d


def _record_to_row(offset: int, path: str, headers: dict, block: bytes,
                   length: int = 0) -> dict:
    """One parsed record -> one output row. For HTTP message blocks the
    payload is the HTTP BODY and status/content-type are lifted out."""
    wtype = headers.get("warc-type", "")
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
    return {
        "warc_type": wtype,
        "record_id": headers.get("warc-record-id"),
        "target_uri": headers.get("warc-target-uri"),
        "warc_date": _parse_warc_date(headers.get("warc-date")),
        "warc_content_type": headers.get("content-type"),
        "content_length": int(headers.get("content-length", 0)),
        "http_status": http_status,
        "http_content_type": http_ctype,
        # Common Crawl's dedup key: exact-duplicate detection straight
        # from the scan, no payload decode (sha1:BASE32 per ISO 28500)
        "payload_digest": headers.get("warc-payload-digest"),
        "payload": bytes(payload),
        "file": path,
        "record_offset": offset,
        "record_length": length,
    }


def _parse_buffer_records(buf: bytes, offset: int, path: str,
                          length: int = 0) -> list[dict]:
    """Parse every record in a decompressed buffer (a gzip member holds
    one record by convention but the spec allows several)."""
    rows = []
    pos = 0
    n = len(buf)
    while pos < n:
        if buf[pos:pos + 5] != b"WARC/":
            break  # trailing padding
        hdr_end = buf.find(_CRLF2, pos)
        if hdr_end < 0:
            raise ValueError(f"{path}: unterminated WARC header at member+{pos}")
        _, headers = _parse_headers(buf[pos:hdr_end])
        clen = int(headers.get("content-length", 0))
        block = buf[hdr_end + 4:hdr_end + 4 + clen]
        if len(block) != clen:
            raise ValueError(f"{path}: truncated WARC block at member+{pos}")
        rows.append(_record_to_row(offset, path, headers, block, length))
        pos = hdr_end + 4 + clen + 4  # skip the two trailing CRLFs
    return rows


# ------------------------------------------------------- gzip splitting

def _warc_prefix_ok(out: bytes) -> bool:
    """Decompressed member prefix looks like a real WARC record: magic,
    terminated header block, numeric Content-Length (spec-mandatory)."""
    if not out.startswith(b"WARC/"):
        return False
    hdr_end = out.find(_CRLF2)
    if hdr_end < 0:
        return False  # no real record header is >8K decompressed
    try:
        _, headers = _parse_headers(out[:hdr_end])
    except Exception:
        return False
    return headers.get("content-length", "").isdigit()


def _is_member_at(fh, pos: int, probe: int = 65536,
                  check=_warc_prefix_ok) -> bool:
    """Validated gzip-member check: the 3-byte magic appears by chance
    roughly every 16 MB inside compressed payloads, and a payload can
    even EMBED a gzip member whose content starts with ``WARC/`` (an
    archived .warc.gz). So a candidate only counts when its prefix
    decompresses to a parseable record header: ``WARC/`` magic, a
    terminated header block, and the spec-mandatory numeric
    Content-Length. A fully valid record forged inside a payload is
    inherently ambiguous (true of any self-synchronizing format) —
    but then the forgery IS a well-formed record."""
    fh.seek(pos)
    head = fh.read(probe)
    if not head.startswith(_GZ_MAGIC):
        return False
    d = zlib.decompressobj(16 + zlib.MAX_WBITS)
    try:
        out = d.decompress(head, 8192)
    except zlib.error:
        return False
    return check(out)


def _find_member(fh, start: int, end: int, check=_warc_prefix_ok) -> int | None:
    """First validated member offset in [start, end), scanning windowed
    chunks (2-byte overlap so a magic split across reads is found)."""
    pos = start
    while pos < end:
        fh.seek(pos)
        win = fh.read(min(1 << 20, end - pos) + 2)
        j = win.find(_GZ_MAGIC)
        while j >= 0 and pos + j < end:
            if _is_member_at(fh, pos + j, check=check):
                return pos + j
            j = win.find(_GZ_MAGIC, j + 1)
        if len(win) <= 2:
            break
        pos += len(win) - 2
    return None


def _iter_gz_members(path: str, start: int, end: int,
                     check=_warc_prefix_ok):
    """Yield ``(member_offset, member_length, decompressed_bytes)`` for
    every gzip member whose FIRST byte lies in [start, end); the last
    owned member is decoded to completion even when it extends past
    ``end``. (offset, length) is the CDX random-access coordinate."""
    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        pos = 0 if start == 0 else _find_member(fh, start, end, check)
        while pos is not None and pos < min(end, size):
            fh.seek(pos)
            d = zlib.decompressobj(16 + zlib.MAX_WBITS)
            out = bytearray()
            fed = 0
            while not d.eof:
                chunk = fh.read(1 << 20)
                if not chunk:
                    raise ValueError(f"{path}: truncated gzip member at {pos}")
                fed += len(chunk)
                out += d.decompress(chunk)
            nxt = pos + fed - len(d.unused_data)
            yield pos, nxt - pos, bytes(out)
            if nxt >= size or nxt <= pos:
                break
            fh.seek(nxt)
            if fh.read(3) == _GZ_MAGIC:
                pos = nxt  # contiguous members: no re-scan needed
            else:
                pos = _find_member(fh, nxt, end, check)


def _iter_plain_records(path: str, start: int, end: int):
    """Yield ``(offset, length, headers, block)`` for records whose
    ``WARC/`` byte lies in [start, end) of an uncompressed file."""
    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        pos = start
        if pos:
            # a record start is `WARC/` preceded by CRLF CRLF (or BOF)
            scan_from = max(0, start - 4)
            found = None
            while scan_from < end and found is None:
                fh.seek(scan_from)
                win = fh.read(min(1 << 20, end - scan_from) + 9)
                j = win.find(b"WARC/")
                while j >= 0:
                    abs_ = scan_from + j
                    if abs_ >= end:
                        break
                    if abs_ >= start and (
                        abs_ == 0 or (j >= 4 and win[j - 4:j] == _CRLF2)
                    ):
                        found = abs_
                        break
                    j = win.find(b"WARC/", j + 1)
                if found is not None or len(win) <= 9:
                    break
                scan_from += len(win) - 9
            if found is None:
                return
            pos = found
        while pos < min(end, size):
            fh.seek(pos)
            head = fh.read(65536)
            if head[:5] != b"WARC/":
                break
            hdr_end = head.find(_CRLF2)
            if hdr_end < 0:
                raise ValueError(f"{path}: unterminated WARC header at {pos}")
            _, headers = _parse_headers(head[:hdr_end])
            clen = int(headers.get("content-length", 0))
            block_start = pos + hdr_end + 4
            fh.seek(block_start)
            block = fh.read(clen)
            if len(block) != clen:
                raise ValueError(f"{path}: truncated WARC block at {pos}")
            nxt = block_start + clen + 4
            yield pos, nxt - pos, headers, block
            pos = nxt


# ---------------------------------------------------------------- read

def read_warc(
    spark: SparkSession, path: str, split_bytes: int = 32 << 20,
    with_payload: bool = True,
) -> DataFrame:
    """Distributed WARC scan: the driver only lists files and computes
    byte ranges; tasks decode their range via the validated-member /
    record-boundary split contract above (mapInPandas, Arrow out).
    ``with_payload=False`` is the metadata-only projection: payload
    bytes are dropped INSIDE the decode task, so a digest-dedup or
    inventory scan never moves body bytes through Arrow."""
    import pandas as pd

    files = list_files(path, "warc", "wet", "wat")
    sizes = {f: os.path.getsize(f) for f in files}
    # split_bytes is the CEILING (task granularity at corpus scale); a
    # small input splits finer — one split per core when the bytes
    # allow — so the Python decode stage fills the cluster instead of
    # serializing on one task. 64 KiB floor keeps the per-split
    # member-boundary scan negligible; the range contract is
    # granularity-proof (a member larger than its split is decoded to
    # completion by its owner).
    par = max(1, spark.sparkContext.defaultParallelism)
    eff = min(split_bytes, max(sum(sizes.values()) // par, 64 << 10))
    splits: list[tuple[str, int, int]] = []
    for f in files:
        size = sizes[f]
        n = max(1, size // eff)
        bounds = [size * i // n for i in range(n + 1)]
        splits.extend((f, bounds[i], bounds[i + 1]) for i in range(n))

    schema_str = (WARC_SCHEMA if with_payload
                  else WARC_SCHEMA.replace("payload binary, ", ""))
    cols = [f.strip().split(" ")[0] for f in schema_str.split(",")]

    def decode_partition(batches):
        # yield in bounded chunks: a 32 MB compressed split can inflate
        # ~5-10x, so never hold a whole split's rows in one frame
        chunk = 512

        def row_iter(fpath, s, e):
            if fpath.endswith(".gz"):
                for off, ln, buf in _iter_gz_members(fpath, int(s), int(e)):
                    yield from _parse_buffer_records(buf, off, fpath, ln)
            else:
                for off, ln, hdrs, blk in _iter_plain_records(
                        fpath, int(s), int(e)):
                    yield _record_to_row(off, fpath, hdrs, blk, ln)

        for pdf in batches:
            for fpath, s, e in zip(pdf["path"], pdf["start"], pdf["end"]):
                rows: list[dict] = []
                for r in row_iter(fpath, s, e):
                    if not with_payload:
                        r.pop("payload", None)
                    rows.append(r)
                    if len(rows) >= chunk:
                        yield pd.DataFrame.from_records(rows, columns=cols)
                        rows = []
                yield pd.DataFrame.from_records(rows, columns=cols)

    return scan_files(spark, splits, decode_partition, schema_str)


def read_wat(spark: SparkSession, path: str, **kw) -> DataFrame:
    """WAT metadata view: ``metadata`` records with the JSON envelope
    decoded to a string column (parse further with from_json or the
    JSON->VARIANT conversion) — Common Crawl's link/header metadata
    sidecar format."""
    return (
        read_warc(spark, path, **kw)
        .filter(F.col("warc_type") == "metadata")
        .select(
            "target_uri", "warc_date",
            F.decode(F.col("payload"), "UTF-8").alias("json"),
            "file", "record_offset",
        )
    )


def read_wet(spark: SparkSession, path: str, **kw) -> DataFrame:
    """WET text-extract view: ``conversion`` records with the payload
    decoded as UTF-8 text — the input shape of every C4/CCNet-style
    text pipeline."""
    return (
        read_warc(spark, path, **kw)
        .filter(F.col("warc_type") == "conversion")
        .select(
            "target_uri", "warc_date",
            F.decode(F.col("payload"), "UTF-8").alias("text"),
            "file", "record_offset",
        )
    )


# ---------------------------------------------------------------- write

def _record_bytes(wtype: str, headers: list[tuple[str, str]], block: bytes) -> bytes:
    out = io.BytesIO()
    out.write(b"WARC/1.0\r\n")
    out.write(f"WARC-Type: {wtype}\r\n".encode("latin-1"))
    for k, v in headers:
        out.write(f"{k}: {v}\r\n".encode("latin-1"))
    out.write(f"Content-Length: {len(block)}\r\n".encode("latin-1"))
    out.write(b"\r\n")
    out.write(block)
    out.write(_CRLF2)
    return out.getvalue()


def _gz_member(raw: bytes) -> bytes:
    buf = io.BytesIO()
    # mtime pinned for deterministic bytes (content-addressed fixtures)
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
        g.write(raw)
    return buf.getvalue()


def _det_record_id(*parts: str) -> str:
    h = hashlib.md5("\x00".join(parts).encode()).digest()
    return f"<urn:uuid:{uuid.UUID(bytes=h)}>"


def write_warc(
    df: DataFrame,
    out_dir: str,
    record_type: str = "response",
    compress: bool = True,
    http_content_type: str = "text/html; charset=UTF-8",
) -> list[str]:
    """Distributed WARC write: each partition emits one part file in
    Common Crawl layout — a leading ``warcinfo`` record, then one
    ``response`` (HTTP-wrapped) or ``conversion`` (WET, raw text)
    record per row, each its own gzip member when ``compress`` so the
    output is byte-range splittable. Expected columns: ``target_uri``
    plus ``payload`` (binary) or ``text`` (string); optional
    ``warc_date`` timestamp (fixed epoch-2020 default keeps fixture
    bytes deterministic). Record IDs are content-addressed UUIDs."""
    os.makedirs(out_dir, exist_ok=True)
    # Common Crawl naming: text extracts are *.warc.wet.gz, metadata
    # sidecars *.warc.wat.gz — keeps suffix-based format inference right
    stem = {"conversion": ".warc.wet", "metadata": ".warc.wat"}.get(
        record_type, ".warc")
    suffix = stem + (".gz" if compress else "")
    cols = df.columns

    def write_partition(batches):
        # Stream each encoded record straight to a spool file — the
        # partition's compressed output never sits in executor RAM.
        # The final name needs the first-record tag + count and the
        # warcinfo header must lead, so records spool to a temp file
        # that is prefixed and renamed once the partition is drained.
        import pandas as pd
        import tempfile

        spool = None
        first_tag = None
        n_recs = 0
        for pdf in batches:
            for row in pdf.to_dict("records"):
                uri = str(row.get("target_uri"))
                body = row.get("payload")
                if not isinstance(body, (bytes, bytearray)):
                    body = str(row.get("text", "")).encode("utf-8")
                body = bytes(body)
                d = row.get("warc_date")
                if d is None or (isinstance(d, float) and pd.isna(d)) or d is pd.NaT:
                    date = "2020-01-01T00:00:00Z"
                else:
                    date = pd.Timestamp(d).strftime("%Y-%m-%dT%H:%M:%SZ")
                digest = "sha1:" + base64.b32encode(
                    hashlib.sha1(body).digest()).decode("ascii")
                hdrs = [
                    ("WARC-Record-ID", _det_record_id(uri, date, str(len(body)))),
                    ("WARC-Date", date),
                    ("WARC-Target-URI", uri),
                    ("WARC-Payload-Digest", digest),
                ]
                if record_type == "response":
                    http = (
                        b"HTTP/1.1 200 OK\r\n"
                        + f"Content-Type: {http_content_type}\r\n".encode("latin-1")
                        + f"Content-Length: {len(body)}\r\n\r\n".encode("latin-1")
                        + body
                    )
                    hdrs.append(("Content-Type",
                                 "application/http; msgtype=response"))
                    raw = _record_bytes("response", hdrs, http)
                else:
                    ctype = {"conversion": "text/plain",
                             "metadata": "application/json"}.get(
                        record_type, "application/octet-stream")
                    hdrs.append(("Content-Type", ctype))
                    raw = _record_bytes(record_type, hdrs, body)
                enc = _gz_member(raw) if compress else raw
                if spool is None:
                    first_tag = hashlib.md5(enc).hexdigest()[:16]
                    spool = tempfile.NamedTemporaryFile(
                        dir=out_dir, suffix=".spool", delete=False)
                spool.write(enc)
                n_recs += 1
        if spool is not None:
            spool.close()
            info_block = b"software: drill-spark warc writer\r\n"
            info = _record_bytes(
                "warcinfo",
                [("WARC-Record-ID",
                  _det_record_id("warcinfo", first_tag, str(n_recs))),
                 ("WARC-Date", "2020-01-01T00:00:00Z"),
                 ("Content-Type", "application/warc-fields")],
                info_block,
            )
            fname = os.path.join(
                out_dir, f"part-{first_tag}-{n_recs}{suffix}")
            with open(fname, "wb") as f:
                f.write(_gz_member(info) if compress else info)
                with open(spool.name, "rb") as src:
                    while True:
                        chunk = src.read(1 << 20)
                        if not chunk:
                            break
                        f.write(chunk)
            os.unlink(spool.name)
            yield pd.DataFrame({"file": [fname], "rows": [n_recs]})

    _ = cols  # schema captured for closure clarity
    manifest = df.mapInPandas(write_partition, "file string, rows long").collect()
    return [r["file"] for r in manifest]


def write_wet(df: DataFrame, out_dir: str) -> list[str]:
    """CTAS into a WET table: ``conversion`` records."""
    return write_warc(df, out_dir, record_type="conversion")


def write_wat(df: DataFrame, out_dir: str) -> list[str]:
    """CTAS into a WAT table: ``metadata`` records."""
    return write_warc(df, out_dir, record_type="metadata")


def generate_wat(
    spark: SparkSession, warc_path, out_dir: str,
    split_bytes: int = 32 << 20,
) -> list[str]:
    """Derive the WAT metadata sidecar from a response archive — the
    Common Crawl derivation job, as ONE distributed pass: response
    records -> an Envelope JSON per page (WARC header facts, HTTP
    facts, HTML title + outlinks via the Catalyst extraction chain) ->
    ``metadata`` records written in Common Crawl ``*.warc.wat.gz``
    layout. Everything between the two archive layers is codegen; the
    only Python is the archive codec at each edge."""
    from drill_spark.ops.text import html_links, html_title

    recs = read_warc(spark, warc_path, split_bytes=split_bytes).filter(
        F.col("warc_type") == "response")
    html = F.decode(F.col("payload"), "UTF-8")
    envelope = F.to_json(F.struct(F.struct(
        F.struct(
            F.col("target_uri").alias("WARC-Target-URI"),
            F.date_format("warc_date",
                          "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("WARC-Date"),
            F.col("record_id").alias("WARC-Record-ID"),
        ).alias("WARC-Header-Metadata"),
        F.struct(
            F.col("http_status").alias("Response-Status"),
            F.col("http_content_type").alias("Content-Type"),
            F.octet_length("payload").alias("Entity-Length"),
            F.struct(
                html_title(html).alias("Title"),
                html_links(html).alias("Links"),
            ).alias("HTML-Metadata"),
        ).alias("Payload-Metadata"),
    ).alias("Envelope")))
    meta = recs.select(
        "target_uri", "warc_date", envelope.alias("text"))
    return write_warc(meta, out_dir, record_type="metadata")


def generate_wet(
    spark: SparkSession, warc_path, out_dir: str,
    split_bytes: int = 32 << 20,
) -> list[str]:
    """Derive the WET text-extract sidecar from a response archive —
    responses -> Catalyst HTML->text extraction -> ``conversion``
    records in Common Crawl ``*.warc.wet.gz`` layout; one distributed
    pass, codegen between the archive codecs."""
    from drill_spark.ops.text import html_to_text

    recs = read_warc(spark, warc_path, split_bytes=split_bytes).filter(
        F.col("warc_type") == "response")
    text = html_to_text(F.decode(F.col("payload"), "UTF-8"))
    return write_warc(
        recs.select("target_uri", "warc_date", text.alias("text")),
        out_dir, record_type="conversion")
