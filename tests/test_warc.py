"""WARC/WET web-archive reader+writer tests (readers/warc.py).

Covers the split contract that matters at 100 TB: byte-range tasks
over record-at-time-gzipped archives must decode every record exactly
once, validated gzip-magic scanning must not be fooled by magic bytes
inside compressed payloads, and records straddling a range boundary
belong to exactly one task.
"""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from drill_spark.readers.warc import (
    _find_member,
    _iter_gz_members,
    read_warc,
    read_wet,
    write_warc,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"https://ex.org/p/{i}", "body text %d " % i * (i % 7 + 1))
         for i in range(120)],
        "doc_id long, target_uri string, text string",
    )


@pytest.fixture(scope="module")
def warc_dir(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("warc") / "crawl")
    write_warc(docs.select("target_uri", "text").repartition(3), d)
    return d


def test_roundtrip_response_records(spark, docs, warc_dir):
    df = read_warc(spark, warc_dir)
    by_type = {r["warc_type"]: r["count"]
               for r in df.groupBy("warc_type").count().collect()}
    assert by_type["response"] == 120
    assert by_type["warcinfo"] == 3  # one per part file
    back = (
        df.filter(F.col("warc_type") == "response")
        .select("target_uri", F.decode("payload", "UTF-8").alias("text"))
    )
    orig = {r["target_uri"]: r["text"] for r in docs.collect()}
    got = {r["target_uri"]: r["text"] for r in back.collect()}
    assert got == orig


def test_http_envelope_is_split(spark, warc_dir):
    row = read_warc(spark, warc_dir).filter(
        F.col("warc_type") == "response").first()
    assert row["http_status"] == 200
    assert row["http_content_type"].startswith("text/html")
    assert not row["payload"].startswith(b"HTTP/")
    assert row["warc_content_type"].startswith("application/http")
    assert row["record_id"].startswith("<urn:uuid:")
    assert row["warc_date"] is not None


def test_tiny_splits_decode_each_record_exactly_once(spark, warc_dir):
    # force many byte-range tasks per file; ids must stay unique/complete
    df = read_warc(spark, warc_dir, split_bytes=1024)
    ids = df.select("record_id").collect()
    assert len(ids) == 123
    assert len({r["record_id"] for r in ids}) == 123


def test_default_split_size_adapts_to_small_inputs(spark, tmp_path):
    # with the default 32 MB ceiling, a small multi-record input must
    # still fan the decode across tasks (effective split size floors
    # at 64 KiB instead of collapsing to one whole-file split) — and
    # the row set must match the explicit tiny-split read exactly
    import hashlib
    import os

    from drill_spark.readers.formats import list_files

    def blob(i):  # incompressible-ish payload so the .gz stays > 128 KiB
        h = hashlib.sha256(str(i).encode()).hexdigest()
        return "".join(hashlib.sha256((h + str(j)).encode()).hexdigest()
                       for j in range(128))

    docs = spark.createDataFrame(
        [(f"https://ex.org/{i}", blob(i)) for i in range(64)],
        "target_uri string, text string",
    )
    d = str(tmp_path / "big")
    write_warc(docs.coalesce(1), d)
    total = sum(os.path.getsize(f) for f in list_files(d, "warc"))
    assert total > 2 * (64 << 10)  # fixture big enough to exercise the fan
    df = read_warc(spark, d)
    n_tasks = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert n_tasks > 1
    ids = {r["record_id"] for r in df.select("record_id").collect()}
    tiny = {r["record_id"]
            for r in read_warc(spark, d, split_bytes=1024)
            .select("record_id").collect()}
    assert ids == tiny and len(ids) == 65  # 64 responses + warcinfo


def test_plain_uncompressed_splits(spark, docs, tmp_path):
    d = str(tmp_path / "plain")
    write_warc(docs.select("target_uri", "text").repartition(2), d,
               compress=False)
    df = read_warc(spark, d, split_bytes=1024)
    assert df.filter(F.col("warc_type") == "response").count() == 120
    assert df.select("record_id").distinct().count() == df.count() == 122


def test_gz_magic_false_positive_in_payload(spark, tmp_path):
    # a payload CONTAINING a full gzip member (so scanning hits magic
    # bytes mid-record) must not yield phantom records
    inner = gzip.compress(b"WARC/1.0\r\nnot a real record")
    payload = b"A" * 100 + inner + b"B" * 100
    df = spark.createDataFrame(
        [("https://ex.org/gz", bytearray(payload))],
        "target_uri string, payload binary",
    )
    d = str(tmp_path / "fp")
    write_warc(df, d)
    for split in (1 << 20, 64):  # whole-file and mid-payload range starts
        out = read_warc(spark, d, split_bytes=split)
        rows = out.filter(F.col("warc_type") == "response").collect()
        assert len(rows) == 1
        assert bytes(rows[0]["payload"]) == payload


def test_find_member_skips_unvalidated_magic(tmp_path):
    # raw file: garbage with gzip magic that is NOT a WARC member, then
    # a real member — the scanner must land on the real one
    real = gzip.compress(b"WARC/1.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n")
    blob = b"x" * 10 + b"\x1f\x8b\x08" + b"junk" * 5 + real
    p = tmp_path / "scan.warc.gz"
    p.write_bytes(blob)
    with open(p, "rb") as fh:
        off = _find_member(fh, 1, len(blob))
    assert off == len(blob) - len(real)
    members = list(_iter_gz_members(str(p), 1, len(blob)))
    assert len(members) == 1 and members[0][2].startswith(b"WARC/1.0")
    assert members[0][1] == len(real)  # (offset, length, bytes)


def test_wet_conversion_records(spark, docs, tmp_path):
    d = str(tmp_path / "wet")
    write_warc(docs.select("target_uri", "text"), d, record_type="conversion")
    wet = read_wet(spark, d)
    got = {r["target_uri"]: r["text"] for r in wet.collect()}
    orig = {r["target_uri"]: r["text"] for r in docs.collect()}
    assert got == orig


def test_sql_face_suffix_inference(session, docs, tmp_path):
    d = str(tmp_path / "sqlwarc")
    write_warc(docs.select("target_uri", "text").limit(5), d)
    n = session.sql(
        f"select count(*) as n from dfs.`{d}` where warc_type = 'response'"
    ).collect()[0]["n"]
    assert n == 5


def test_unicode_payload_byte_lengths(spark, tmp_path):
    df = spark.createDataFrame(
        [("https://ex.org/u", "héllo wörld — ünïcode ✓")],
        "target_uri string, text string",
    )
    d = str(tmp_path / "uni")
    write_warc(df, d)
    row = read_warc(spark, d).filter(F.col("warc_type") == "response").first()
    assert bytes(row["payload"]).decode("utf-8") == "héllo wörld — ünïcode ✓"


def test_wat_metadata_records(spark, docs, tmp_path):
    import json as _json

    from drill_spark.readers.warc import read_wat

    meta = docs.select(
        "target_uri",
        F.to_json(F.struct("doc_id", "target_uri")).alias("text"))
    d = str(tmp_path / "wat")
    write_warc(meta, d, record_type="metadata")
    fname = os.listdir(d)[0]
    assert fname.endswith(".warc.wat.gz")
    wat = read_wat(spark, d)
    rows = wat.collect()
    assert len(rows) == 120
    parsed = _json.loads(rows[0]["json"])
    assert parsed["target_uri"] == rows[0]["target_uri"]


def test_glob_path_reads_like_its_directory(session, warc_dir):
    """A glob over the part files lists the same files, in the same
    order, as the directory itself."""
    cols = "record_id, file, record_offset, target_uri"
    by_dir = session.sql(f"select {cols} from dfs.`{warc_dir}`").collect()
    by_glob = session.sql(f"select {cols} from dfs.`{warc_dir}/*.warc.gz`").collect()
    assert len(by_dir) == 123  # 120 responses + one warcinfo per part file
    assert sorted(by_glob) == sorted(by_dir)


def test_ctas_to_warc_and_back(session, spark, tmp_path):
    import os as _os

    root = str(tmp_path / "ws")
    _os.makedirs(root)
    session.register_workspace("dfs.wtest", root, "parquet")
    session.workspaces["dfs.wtest"].writable = True
    spark.createDataFrame(
        [(f"https://ex.org/c/{i}", f"ctas text {i}") for i in range(6)],
        "target_uri string, text string",
    ).createOrReplaceTempView("_ctas_pages")
    session.sql(
        "create table dfs.wtest.`crawl_out` as "
        "select target_uri, text from _ctas_pages"
    )
    # the workspace default format is parquet; write explicitly as warc
    session.sql(
        "alter session set `store.format` = 'wet'")
    session.sql(
        "create table dfs.wtest.`crawl_wet` as "
        "select target_uri, text from _ctas_pages")
    session.sql("reset `store.format`")
    n = session.sql(
        f"select count(*) as n from dfs.`{root}/crawl_wet`"
    ).collect()[0]["n"]
    assert n == 6


def test_payload_digest_and_metadata_only_scan(spark, docs, warc_dir):
    import base64 as _b64
    import hashlib as _hl

    df = read_warc(spark, warc_dir).filter(F.col("warc_type") == "response")
    row = df.orderBy("target_uri").first()
    want = "sha1:" + _b64.b32encode(
        _hl.sha1(bytes(row["payload"])).digest()).decode()
    assert row["payload_digest"] == want
    # digest-keyed exact dedup without decoding payloads
    meta = read_warc(spark, warc_dir, with_payload=False)
    assert "payload" not in meta.columns
    resp = meta.filter(F.col("warc_type") == "response")
    assert resp.select("payload_digest").distinct().count() == \
        df.select("payload_digest").distinct().count()


def test_generate_wat_sidecar(spark, tmp_path):
    import json as _json

    from drill_spark.readers.warc import generate_wat, read_wat

    pages = spark.createDataFrame(
        [(f"https://ex.org/w/{i}",
          f'<html><title>t{i}</title><body>'
          f'<a href="https://out.example/{i}">o</a>'
          f'<a href="https://two.example/{i}">p</a></body></html>')
         for i in range(8)],
        "target_uri string, text string")
    src = str(tmp_path / "crawl")
    write_warc(pages, src)
    dst = str(tmp_path / "wat")
    files = generate_wat(spark, src, dst)
    assert files and all(f.endswith(".warc.wat.gz") for f in files)
    wat = {r["target_uri"]: _json.loads(r["json"])
           for r in read_wat(spark, dst).collect()}
    assert len(wat) == 8
    env = wat["https://ex.org/w/3"]["Envelope"]
    assert env["WARC-Header-Metadata"]["WARC-Target-URI"] == \
        "https://ex.org/w/3"
    pm = env["Payload-Metadata"]
    assert pm["Response-Status"] == 200
    assert pm["HTML-Metadata"]["Title"] == "t3"
    assert pm["HTML-Metadata"]["Links"] == [
        "https://out.example/3", "https://two.example/3"]


def test_generate_wet_sidecar(spark, tmp_path):
    from drill_spark.readers.warc import generate_wet, read_wet

    pages = spark.createDataFrame(
        [(f"https://ex.org/e/{i}",
          f"<html><title>skip</title><body><p>real text {i}</p></body></html>")
         for i in range(5)],
        "target_uri string, text string")
    src = str(tmp_path / "crawl")
    write_warc(pages, src)
    dst = str(tmp_path / "wet")
    files = generate_wet(spark, src, dst)
    assert files and all(f.endswith(".warc.wet.gz") for f in files)
    got = {r["target_uri"]: r["text"]
           for r in read_wet(spark, dst).collect()}
    assert got == {f"https://ex.org/e/{i}": f"real text {i}"
                   for i in range(5)}
