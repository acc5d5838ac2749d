"""Schema-on-read surface (SURVEY §7 step 3) — Drill's signature
conveniences re-expressed on Spark readers.

Reference behaviors modeled (citations relative to /root/reference):
- JSON inference + all_text_mode  (ExecConstants.java:505,
  store/easy/json/JSONFormatPlugin.java)
- CSV header vs columns[n] array model
  (store/easy/text/reader/CompliantTextBatchReader.java:52)
- implicit columns fqn/filepath/filename/suffix
  (store/ColumnExplorer.java:495-530)
- dir0..dirN partition columns + pruning (ColumnExplorer.java:142-162,
  planner/logical/partition/PruneScanRule.java)
- schema evolution across files in one table (OK_NEW_SCHEMA analog,
  record/RecordBatch.java:113-160) via unioned read-time inference
"""

from __future__ import annotations

import json
import os

import pytest

from drill_spark.readers.files import (
    read_csv,
    read_dir_table,
    read_json,
    with_dir_columns,
    with_implicit_columns,
)


@pytest.fixture(scope="module")
def data_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("sor")
    # --- JSON: two files with drifting schema (b appears later; a widens) ---
    (root / "j").mkdir()
    (root / "j" / "a.json").write_text(
        "\n".join(json.dumps(r) for r in [{"id": 1, "v": 10}, {"id": 2, "v": 20}])
    )
    (root / "j" / "b.json").write_text(
        "\n".join(json.dumps(r) for r in [{"id": 3, "v": 30.5, "tag": "x"}])
    )
    # pretty-printed (multiline) JSON
    (root / "pretty.json").write_text(json.dumps([{"id": 1, "name": "n1"}, {"id": 2, "name": "n2"}], indent=2))
    # --- CSV with and without headers ---
    (root / "h.csv").write_text("id,name\n1,alpha\n2,beta\n")
    (root / "noh.csv").write_text("1,alpha\n2,beta\n3,gamma\n")
    # --- directory-partitioned table (Drill bare-dir layout, not k=v) ---
    for year in ("1994", "1995"):
        for q in ("Q1", "Q2"):
            d = root / "sales" / year / q
            d.mkdir(parents=True)
            (d / "part.csv").write_text(f"id,amt\n1,{year}{q}\n")
    return str(root)


def test_json_schema_drift_union(spark, data_root):
    df = read_json(spark, os.path.join(data_root, "j"))
    # unioned inference: all three columns present; v widened to double
    assert set(df.columns) == {"id", "v", "tag"}
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["tag"] is None and rows[3]["tag"] == "x"
    assert abs(rows[3]["v"] - 30.5) < 1e-9


def test_json_all_text_mode(spark, data_root):
    df = read_json(spark, os.path.join(data_root, "j"), all_text_mode=True)
    assert dict(df.dtypes)["v"] == "string"
    assert {r["v"] for r in df.collect()} == {"10", "20", "30.5"}


def test_json_multiline_fallback(spark, data_root):
    df = read_json(spark, os.path.join(data_root, "pretty.json"))
    assert sorted(r["name"] for r in df.collect()) == ["n1", "n2"]


def test_csv_header_model(spark, data_root):
    df = read_csv(spark, os.path.join(data_root, "h.csv"), header=True)
    assert df.columns == ["id", "name"]
    assert df.count() == 2


def test_csv_columns_array_model(spark, data_root):
    df = read_csv(spark, os.path.join(data_root, "noh.csv"), header=False)
    assert df.columns == ["columns"]
    df.createOrReplaceTempView("noh")
    rows = spark.sql("select columns[0] as id, columns[1] as name from noh order by id").collect()
    assert [r["name"] for r in rows] == ["alpha", "beta", "gamma"]


def test_implicit_columns(spark, data_root):
    df = with_implicit_columns(read_csv(spark, os.path.join(data_root, "h.csv"), header=True))
    r = df.select("fqn", "filepath", "filename", "suffix").head()
    assert r["filename"] == "h.csv"
    assert r["suffix"] == "csv"
    assert r["filepath"].endswith(os.path.basename(data_root))
    assert r["fqn"].endswith("h.csv") and r["fqn"].startswith("/")


def test_dir_partition_columns(spark, data_root):
    root = os.path.join(data_root, "sales")
    df = read_dir_table(spark, os.path.join(root, "*", "*"), fmt="csv", header="true")
    df = with_dir_columns(df.drop("dir0", "dir1"), root)  # recompute vs explicit root
    assert {"dir0", "dir1"} <= set(df.columns)
    got = {(r["dir0"], r["dir1"]) for r in df.collect()}
    assert got == {("1994", "Q1"), ("1994", "Q2"), ("1995", "Q1"), ("1995", "Q2")}


def test_dir_partition_filter(spark, data_root):
    root = os.path.join(data_root, "sales")
    df = read_dir_table(spark, os.path.join(root, "*", "*"), fmt="csv", header="true")
    got = df.where("dir0 = '1994' and dir1 = 'Q1'").select("amt").collect()
    assert [r["amt"] for r in got] == ["1994Q1"]


def test_dir_filters_prune_at_listing(spark, data_root):
    """dir_filters → path glob: non-matching directories are never
    listed (PruneScanRule.java analog at the file-listing level)."""
    root = os.path.join(data_root, "sales")
    pruned = read_dir_table(spark, root + "/*/*", fmt="csv", dir_filters={0: "1994"}, header="true")
    full = read_dir_table(spark, root + "/*/*", fmt="csv", header="true")
    assert len(pruned.inputFiles()) == 2 < len(full.inputFiles()) == 4
    assert {r["dir1"] for r in pruned.collect()} == {"Q1", "Q2"}
    assert {r["dir0"] for r in pruned.collect()} == {"1994"}


def test_json_union_mode_variant(spark, tmp_path):
    """Drill's union type (UnionVector.java:61, exec.enable_union_type)
    → Spark 4 VARIANT: per-value heterogeneous types survive the read."""
    p = tmp_path / "het.json"
    p.write_text('{"a": 1}\n{"a": "str"}\n{"a": [1, 2, 3]}\n{"a": {"x": true}}\n')
    df = read_json(spark, str(p), union_mode=True)
    assert dict(df.dtypes) == {"v": "variant"}
    df.createOrReplaceTempView("het")
    types = sorted(
        r["t"] for r in spark.sql("select schema_of_variant(variant_get(v, '$.a')) as t from het").collect()
    )
    assert types == ["ARRAY<BIGINT>", "BIGINT", "OBJECT<x: BOOLEAN>", "STRING"]
    # typed access with per-value fallback (Drill: castToUnion/typeof surface)
    vals = spark.sql("select try_variant_get(v, '$.a', 'bigint') as x from het").collect()
    assert sorted([r["x"] for r in vals if r["x"] is not None]) == [1]


def test_union_typeof_drill_minor_types(spark, tmp_path):
    """UnionFunctions.typeOf analog over VARIANT columns: per-value
    runtime types reported with Drill minor-type names (typeof() alone
    says only 'variant' — the static type)."""
    from drill_spark import functions as fns

    fns.register_all(spark)
    p = tmp_path / "u.json"
    p.write_text(
        '{"a": 1}\n{"a": "str"}\n{"a": 1.5}\n{"a": [1]}\n'
        '{"a": {"k": 1}}\n{"a": true}\n{"a": null}\n'
    )
    read_json(spark, str(p), union_mode=True).createOrReplaceTempView("ut")
    got = sorted(
        r["t"]
        for r in spark.sql(
            "select union_typeof(variant_get(v, '$.a')) as t from ut"
        ).collect()
    )
    assert got == ["BIGINT", "BIT", "FLOAT8", "LIST", "MAP", "NULL", "VARCHAR"]


def test_schema_drift_widening_union(spark, tmp_path):
    """OK_NEW_SCHEMA analog (record/RecordBatch.java:113-160): parquet
    files that disagree (int→long widening + a column missing from one
    file) still read as ONE table through read_dir_table, where Spark's
    own mergeSchema refuses."""
    import shutil

    root = tmp_path / "drifted"
    root.mkdir()
    spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string").coalesce(1).write.parquet(
        str(tmp_path / "w1")
    )
    spark.createDataFrame([(2**40, 9.5)], "a long, c double").coalesce(1).write.parquet(
        str(tmp_path / "w2")
    )
    for i, src in enumerate(["w1", "w2"]):
        f = next((tmp_path / src).glob("*.parquet"))
        shutil.copy(f, root / f"part-{i}.parquet")
    df = read_dir_table(spark, str(root), fmt="parquet")
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields if not f.name.startswith("dir")}
    assert schema == {"a": "bigint", "b": "string", "c": "double"}
    rows = {r["a"]: r for r in df.collect()}
    assert rows[1]["b"] == "x" and rows[1]["c"] is None
    assert rows[2**40]["b"] is None and rows[2**40]["c"] == 9.5


def test_schema_drift_incompatible_raises(spark, tmp_path):
    """Non-widenable drift (string vs int on the same column) errors
    with the offending column named, not a silent wrong answer."""
    import shutil

    import pytest as _pytest

    root = tmp_path / "bad"
    root.mkdir()
    spark.createDataFrame([(1,)], "a int").coalesce(1).write.parquet(str(tmp_path / "b1"))
    spark.createDataFrame([("s",)], "a string").coalesce(1).write.parquet(str(tmp_path / "b2"))
    for i, src in enumerate(["b1", "b2"]):
        f = next((tmp_path / src).glob("*.parquet"))
        shutil.copy(f, root / f"part-{i}.parquet")
    from drill_spark.readers.files import read_parquet_drift

    with _pytest.raises(ValueError, match="'a'"):
        read_parquet_drift(spark, str(root)).collect()


def test_provided_schema_table_function(spark, tmp_path):
    """Provided schema skips inference (SchemaHandler.java /
    TestSchemaWithTableFunction.java analog) — via the sqlfront table
    function `schema =>` option."""
    from drill_spark.session import DrillSession

    (tmp_path / "typed.csv").write_text("1,ada,3.5\n2,bob,4.25\n")
    s = DrillSession(spark=spark)
    s.register_workspace("dfs.sor", str(tmp_path), "csv")
    df = s.sql(
        "select * from table(dfs.sor.`typed.csv`("
        "type => 'text', schema => 'id int, name string, score double'))"
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["int", "string", "double"]
    assert df.where("score > 4").head()["name"] == "bob"


def test_generic_log_reader(spark, tmp_path):
    """Drill contrib/format-log analog: regex → typed columns."""
    from drill_spark.readers.logs import read_log

    p = tmp_path / "app.log"
    p.write_text(
        "2024-01-15 10:00:01 INFO started ok\n"
        "2024-01-15 10:00:02 ERROR boom failed\n"
        "garbage line\n"
    )
    df = read_log(
        spark,
        str(p),
        r"^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) (\w+) (\w+) (\w+)$",
        [("ts_raw", "string"), ("level", "string"), ("event", "string"), ("outcome", "string")],
        keep_unmatched=True,
    )
    rows = df.collect()
    assert len(rows) == 3
    levels = [r["level"] for r in rows if r["level"] is not None]
    assert sorted(levels) == ["ERROR", "INFO"]
    assert [r["_unmatched"] for r in rows if r["_unmatched"]] == ["garbage line"]


def test_httpd_log_reader(spark, tmp_path):
    from drill_spark.readers.logs import read_httpd_log

    p = tmp_path / "access.log"
    p.write_text(
        '10.0.0.1 - frank [10/Oct/2024:13:55:36 -0700] "GET /index.html HTTP/1.0" 200 2326 '
        '"http://ref.example" "Mozilla/5.0"\n'
        '192.168.0.5 - - [10/Oct/2024:13:56:01 -0700] "POST /api/v1 HTTP/1.1" 503 - "-" "curl/8.0"\n'
    )
    df = read_httpd_log(spark, str(p))
    rows = {r["client_ip"]: r for r in df.collect()}
    assert rows["10.0.0.1"]["status"] == 200 and rows["10.0.0.1"]["bytes"] == 2326
    assert rows["192.168.0.5"]["method"] == "POST" and rows["192.168.0.5"]["bytes"] is None
    assert str(rows["10.0.0.1"]["ts"]).startswith("2024-10-10")


def test_syslog_reader(spark, tmp_path):
    from drill_spark.readers.logs import read_syslog

    p = tmp_path / "sys.log"
    p.write_text(
        "<34>Oct 11 22:14:15 host1 sshd[4123]: Failed password for root\n"
        "<13>Oct 11 22:14:16 host2 cron: job started\n"
    )
    df = read_syslog(spark, str(p))
    rows = {r["host"]: r for r in df.collect()}
    assert rows["host1"]["severity"] == 2 and rows["host1"]["facility"] == 4
    assert rows["host1"]["pid"] == 4123 and rows["host2"]["pid"] is None
    assert rows["host2"]["app"] == "cron"


def test_log_reader_stays_jvm_side(spark, tmp_path):
    from drill_spark import plans
    from drill_spark.readers.logs import read_log

    p = tmp_path / "x.log"
    p.write_text("a 1\n")
    df = read_log(spark, str(p), r"^(\w+) (\d+)$", [("k", "string"), ("v", "int")])
    assert not plans.has_python_eval(df)


def test_parquet_merge_schema(spark, tmp_path):
    """Parquet schema evolution (mergeSchema ≈ resolving OK_NEW_SCHEMA
    at read time)."""
    p = str(tmp_path / "evolve")
    spark.createDataFrame([(1, "a")], "id int, name string").write.parquet(p + "/f1")
    spark.createDataFrame([(2, "b", 9.5)], "id int, name string, score double").write.parquet(p + "/f2")
    df = spark.read.option("mergeSchema", "true").parquet(p + "/f1", p + "/f2")
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["score"] is None and abs(rows[2]["score"] - 9.5) < 1e-9


def test_xml_reader(spark, tmp_path):
    """Drill contrib/format-xml analog via Spark 4's native XML source:
    rowTag record splitting, attribute capture, type inference."""
    from drill_spark.readers.files import read_xml

    p = tmp_path / "books.xml"
    p.write_text(
        "<catalog>"
        '<book id="1"><title>Dune</title><price>9.99</price></book>'
        '<book id="2"><title>Foundation</title><price>7.50</price></book>'
        "</catalog>"
    )
    df = read_xml(spark, str(p), row_tag="book")
    rows = {r["_id"]: r for r in df.collect()}
    assert rows[1]["title"] == "Dune"
    assert abs(float(rows[2]["price"]) - 7.50) < 1e-9


def test_ltsv_reader(spark, tmp_path):
    """Drill contrib/format-ltsv analog: label:value pairs, ragged
    labels across lines, ':' inside values preserved."""
    from drill_spark.readers.files import read_ltsv

    p = tmp_path / "acc.ltsv"
    p.write_text(
        "host:127.0.0.1\treq:GET /\ttime:12:30:55\tstatus:200\n"
        "host:10.0.0.2\tstatus:404\tua:curl/8\n"
    )
    df = read_ltsv(spark, str(p))
    assert set(df.columns) == {"host", "req", "time", "status", "ua"}
    rows = {r["host"]: r for r in df.collect()}
    assert rows["127.0.0.1"]["time"] == "12:30:55"
    assert rows["10.0.0.2"]["req"] is None and rows["10.0.0.2"]["ua"] == "curl/8"


def test_ltsv_provided_schema_skips_discovery(spark, tmp_path):
    from drill_spark.readers.files import read_ltsv

    p = tmp_path / "t.ltsv"
    p.write_text("k:1\tv:a\nk:2\tv:b\n")
    df = read_ltsv(spark, str(p), schema="k int, v string")
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["int", "string"]
    assert sorted((r["k"], r["v"]) for r in df.collect()) == [(1, "a"), (2, "b")]


def test_http_storage_plugin(spark):
    """contrib/storage-http analog: REST endpoint as a table — dataPath
    descent, pagination, and the SQL-front `http.` pseudo-workspace —
    served by a real local HTTP server."""
    import http.server
    import json as _json
    import threading

    from drill_spark.session import DrillSession

    pages = {
        1: {"result": {"items": [{"id": 1, "name": "ada"}, {"id": 2, "name": "bob"}]}},
        2: {"result": {"items": [{"id": 3, "name": "cyd"}]}},
        3: {"result": {"items": []}},
    }

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            page = 1
            if "page=" in self.path:
                page = int(self.path.split("page=")[1].split("&")[0])
            body = _json.dumps(pages.get(page, pages[3])).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/api/users"
        s = DrillSession(spark=spark)
        # table function with dataPath + pagination
        df = s.sql(
            f"select * from table(http.`{url}`(dataPath => 'result.items', "
            f"pageParam => 'page', maxPages => 10)) order by id"
        )
        assert [(r["id"], r["name"]) for r in df.collect()] == [
            (1, "ada"), (2, "bob"), (3, "cyd"),
        ]
        # bare URL table (single fetch, whole payload)
        one = s.sql(f"select result.items[0].name as n from http.`{url}`").head()
        assert one["n"] == "ada"
    finally:
        srv.shutdown()


def _write_min_xlsx(path, sheets: dict[str, str], shared: list[str]) -> None:
    """Build an xlsx from the OOXML spec with raw zip+XML — independent
    of the reader implementation."""
    import zipfile

    m = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    with zipfile.ZipFile(path, "w") as z:
        names = list(sheets)
        z.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{m}" xmlns:r="{rns}"><sheets>'
            + "".join(
                f'<sheet name="{n}" sheetId="{i+1}" r:id="rId{i+1}"/>' for i, n in enumerate(names)
            )
            + "</sheets></workbook>",
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            + "".join(
                f'<Relationship Id="rId{i+1}" Type="x" Target="worksheets/sheet{i+1}.xml"/>'
                for i in range(len(names))
            )
            + "</Relationships>",
        )
        z.writestr(
            "xl/sharedStrings.xml",
            f'<sst xmlns="{m}">' + "".join(f"<si><t>{s}</t></si>" for s in shared) + "</sst>",
        )
        for i, body in enumerate(sheets.values()):
            z.writestr(f"xl/worksheets/sheet{i+1}.xml", f'<worksheet xmlns="{m}">{body}</worksheet>')


def test_excel_reader(spark, tmp_path):
    """contrib/format-excel analog without POI/openpyxl: header row,
    shared + inline strings, numeric vs string column typing, named
    sheet selection."""
    from drill_spark.readers.files import read_excel

    p = str(tmp_path / "x.xlsx")
    sheet1 = (
        "<sheetData>"
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="A2"><v>1.5</v></c><c r="B2" t="s"><v>2</v></c></row>'
        '<row r="3"><c r="A3"><v>2</v></c><c r="B3" t="inlineStr"><is><t>why</t></is></c></row>'
        "</sheetData>"
    )
    sheet2 = '<sheetData><row r="1"><c r="A1"><v>7</v></c></row></sheetData>'
    _write_min_xlsx(p, {"data": sheet1, "extra": sheet2}, ["amount", "note", "ex"])
    df = read_excel(spark, p)
    assert dict(df.dtypes) == {"amount": "double", "note": "string"}
    rows = {r["amount"]: r["note"] for r in df.collect()}
    assert rows == {1.5: "ex", 2.0: "why"}
    # named sheet + headerless mode
    df2 = read_excel(spark, p, sheet="extra", header="false")
    assert df2.columns == ["col0"] and df2.head()["col0"] == 7.0


def test_excel_sqlfront_path(session, tmp_path):
    p = str(tmp_path / "t.xlsx")
    body = (
        "<sheetData>"
        '<row r="1"><c r="A1" t="s"><v>0</v></c></row>'
        '<row r="2"><c r="A2"><v>41</v></c></row>'
        '<row r="3"><c r="A3"><v>3</v></c></row>'
        "</sheetData>"
    )
    _write_min_xlsx(p, {"s": body}, ["v"])
    rows = session.sql(f"select v from table(dfs.`{p}`(type => 'excel')) where v > 10").collect()
    assert [r["v"] for r in rows] == [41.0]


def test_sequencefile_roundtrip(spark, tmp_path):
    """store/easy/sequencefile analog: Hadoop SequenceFile read as
    (binary_key, binary_value) rows, via a real write/read roundtrip."""
    from drill_spark.readers.files import read_sequencefile

    p = str(tmp_path / "seq")
    spark.sparkContext.parallelize([("k1", "v1"), ("k2", "v2")], 2).saveAsSequenceFile(p)
    df = read_sequencefile(spark, p)
    assert df.columns == ["binary_key", "binary_value"]
    assert sorted((r["binary_key"], r["binary_value"]) for r in df.collect()) == [
        ("k1", "v1"), ("k2", "v2"),
    ]


def test_extended_json_roundtrip_through_writer(spark, tmp_path):
    """convert_toEXTENDEDJSON output (JsonConvertTo.java extended form)
    must read back TYPED through read_json(extended=True) — timestamps,
    dates, binary survive the $-literal roundtrip."""
    import datetime

    from drill_spark.readers.files import read_json
    from drill_spark.session import DrillSession

    s = DrillSession(spark=spark)
    df = spark.createDataFrame(
        [(1, datetime.datetime(2020, 1, 2, 3, 4, 5),
          datetime.date(2021, 6, 7), bytearray(b"\x00\xffhi"))],
        "id long, ts timestamp, day date, payload binary")
    df.createOrReplaceTempView("xj_src")
    out = s.sql(
        "select convert_to(struct(id, ts, day, payload), 'EXTENDEDJSON') j "
        "from xj_src").collect()[0]["j"]
    p = tmp_path / "x.json"
    p.write_text(out if isinstance(out, str) else bytes(out).decode())
    back = read_json(spark, str(p), extended=True).collect()[0]
    assert back.id == 1
    assert back.ts == datetime.datetime(2020, 1, 2, 3, 4, 5)
    assert back.day == datetime.date(2021, 6, 7)
    assert bytes(back.payload) == b"\x00\xffhi"


def test_extended_json_relaxed_scalars(spark, tmp_path):
    """BaseExtendedValueParser accepts relaxed scalar forms: $date as an
    ISO string and as bare millis."""
    from drill_spark.readers.files import read_json

    p = tmp_path / "r.json"
    p.write_text(
        '{"a": {"$date": "2020-01-01T00:00:10"}, "k": 1}\n')
    p2 = tmp_path / "m.json"
    p2.write_text('{"a": {"$date": 1577836810000}, "k": 2}\n')
    one = read_json(spark, str(p), extended=True).collect()[0]
    two = read_json(spark, str(p2), extended=True).collect()[0]
    assert str(one.a) == "2020-01-01 00:00:10"
    assert str(two.a) == "2020-01-01 00:00:10"


# ---------------- inferred-schema reuse (SchemaStore) ----------------


@pytest.fixture(scope="module")
def store_session(spark):
    from drill_spark.session import DrillSession

    s = DrillSession(spark=spark)
    yield s
    s.close()


def _counts(s):
    p = s.profiles[-1]
    return p["schema_inferred"], p["schema_reused"]


def _same(a, b):
    assert a.dtypes == b.dtypes
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _hit_matches_fresh(s, sql):
    """Run ``sql`` on an empty store (inference), then again (a hit);
    the hit must be the same frame as the fresh inference."""
    s.schema_store.clear()
    fresh = s.sql(sql)
    assert _counts(s) == (1, 0)
    hit = s.sql(sql)
    assert _counts(s) == (0, 1)
    _same(hit, fresh)
    return hit


def test_schema_store_json_drift(store_session, tmp_path):
    """NDJSON whose late file widens a type and adds a field."""
    d = tmp_path / "drift"
    d.mkdir()
    (d / "a.json").write_text('{"id": 1, "v": 10, "p": {"k": 1}}\n'
                              '{"id": 2, "v": 20, "p": {"k": 2}}\n')
    (d / "b.json").write_text('{"id": 3, "v": 2.5, "p": {"k": 3.5}, "w": "x"}\n')
    hit = _hit_matches_fresh(store_session, f"select * from dfs.`{d}`")
    assert dict(hit.dtypes)["v"] == "double" and "w" in hit.columns
    assert hit.count() == 3


def test_schema_store_pretty_json_keeps_multiline(store_session, tmp_path):
    """The multiLine fallback's outcome is stored with the schema: a hit
    on a pretty-printed file must not read it as NDJSON."""
    p = tmp_path / "pretty.json"
    p.write_text(json.dumps([{"id": 1, "tags": ["a", "b"], "m": {"x": 1}},
                             {"id": 2, "tags": [], "m": {"x": 2}}], indent=2))
    hit = _hit_matches_fresh(store_session, f"select * from dfs.`{p}`")
    assert sorted(r.id for r in hit.collect()) == [1, 2]
    assert "_corrupt_record" not in hit.columns


def test_schema_store_corrupt_record(store_session, tmp_path):
    p = tmp_path / "bad.json"
    p.write_text('{"id": 1, "v": 10}\n{"id": 2, "v":\n{"id": 3, "v": 30}\n')
    hit = _hit_matches_fresh(store_session, f"select * from dfs.`{p}`")
    assert "_corrupt_record" in hit.columns
    assert sum(r._corrupt_record is not None for r in hit.collect()) == 1


def test_schema_store_all_text_mode_toggle(store_session, spark, tmp_path):
    """The option is part of the key: toggling it between two identical
    queries infers again, and toggling back reuses the typed entry."""
    s = store_session
    p = tmp_path / "typed.json"
    p.write_text('{"id": 1, "v": 1.5, "ok": true}\n{"id": 2, "v": 2.5, "ok": false}\n')
    sql = f"select * from dfs.`{p}`"
    typed = _hit_matches_fresh(s, sql)
    s.set_option("store.json.all_text_mode", "true")
    try:
        text = s.sql(sql)
        assert _counts(s) == (1, 0)
        _same(text, read_json(spark, str(p), all_text_mode=True))
        assert set(dict(text.dtypes).values()) == {"string"}
        _same(s.sql(sql), text)
        assert _counts(s) == (0, 1)
    finally:
        s.reset_option("store.json.all_text_mode")
    _same(s.sql(sql), typed)
    assert _counts(s) == (0, 1)


def test_schema_store_corrupt_column_conf(store_session, spark, tmp_path):
    """A changed spark.sql conf (here the corrupt-record column name)
    forces a fresh inference."""
    s = store_session
    p = tmp_path / "bad2.json"
    p.write_text('{"id": 1}\n{"id": \n')
    sql = f"select * from dfs.`{p}`"
    _hit_matches_fresh(s, sql)
    spark.conf.set("spark.sql.columnNameOfCorruptRecord", "_bad")
    try:
        df = s.sql(sql)
        assert _counts(s) == (1, 0)
        assert "_bad" in df.columns and "_corrupt_record" not in df.columns
        _same(df, read_json(spark, str(p)))
    finally:
        spark.conf.unset("spark.sql.columnNameOfCorruptRecord")
    assert "_corrupt_record" in s.sql(sql).columns
    assert _counts(s) == (0, 1)


@pytest.mark.parametrize("name, body, table", [
    ("h.csv", "a,b\n1,x\n2,y\n",
     "table(dfs.`{p}`(type => 'text', extractHeader => 'true'))"),
    ("n.csv", "1,x\n2,y,extra\n3\n", "dfs.`{p}`"),
    ("t.tsv", "1\tx\n2\ty\n", "dfs.`{p}`"),
    ("p.psv", "1|x\n2|y\n", "dfs.`{p}`"),
    ("hp.psv", "a|b\n1|x\n",
     "table(dfs.`{p}`(type => 'psv', extractHeader => 'true'))"),
])
def test_schema_store_csv_models(store_session, tmp_path, name, body, table):
    """Header and columns[] models: the store holds the raw reader
    schema, so a headerless hit still wraps `_c0`... into `columns`."""
    p = tmp_path / name
    p.write_text(body)
    hit = _hit_matches_fresh(store_session, "select * from " + table.format(p=p))
    if "extractHeader" in table:
        assert hit.columns == ["a", "b"]
    else:
        assert hit.columns == ["columns"]


def test_schema_store_xml(store_session, tmp_path):
    p = tmp_path / "rows.xml"
    p.write_text("<rows><r><id>1</id><v>a</v></r><r><id>2</id><w>1.5</w></r></rows>")
    hit = _hit_matches_fresh(
        store_session, f"select * from table(dfs.`{p}`(type => 'xml', rowTag => 'r'))")
    assert sorted(hit.columns) == ["id", "v", "w"] and hit.count() == 2


def test_schema_store_sees_file_changes(store_session, spark, tmp_path):
    """Adding a file, rewriting one in place (same name, same size, mtime
    restored) and deleting one each force a fresh inference."""
    s = store_session
    d = tmp_path / "changing"
    d.mkdir()
    a = d / "a.json"
    a.write_text('{"id":1,"v":10}\n')
    sql = f"select * from dfs.`{d}`"
    _hit_matches_fresh(s, sql)

    (d / "b.json").write_text('{"id": 2, "v": 2.5, "w": "new"}\n')
    added = s.sql(sql)
    assert _counts(s) == (1, 0)
    _same(added, read_json(spark, str(d)))
    assert "w" in added.columns

    st = a.stat()
    a.write_text('{"id":1,"u":10}\n')  # same size
    os.utime(a, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert a.stat().st_size == st.st_size and a.stat().st_mtime_ns == st.st_mtime_ns
    rewritten = s.sql(sql)
    assert _counts(s) == (1, 0)
    _same(rewritten, read_json(spark, str(d)))
    assert "u" in rewritten.columns

    (d / "b.json").unlink()
    deleted = s.sql(sql)
    assert _counts(s) == (1, 0)
    _same(deleted, read_json(spark, str(d)))
    assert deleted.columns == ["id", "u"]


def test_schema_store_bypassed_by_schema_and_union(store_session, tmp_path):
    """A provided schema and union (variant) mode infer nothing, so they
    neither read nor fill the store."""
    s = store_session
    p = tmp_path / "by.json"
    p.write_text('{"id": 1, "v": 10}\n')
    s.schema_store.clear()
    df = s.sql(f"select * from table(dfs.`{p}`(type => 'json', "
               "schema => 'id bigint, v string'))")
    assert dict(df.dtypes) == {"id": "bigint", "v": "string"}
    assert _counts(s) == (0, 0)
    df = s.sql(f"select * from table(dfs.`{p}`(type => 'json', unionType => 'true'))")
    assert df.columns == ["v"] and df.count() == 1
    assert _counts(s) == (0, 0)
    assert not s.schema_store._entries


def test_schema_store_lru_bound(spark, tmp_path, monkeypatch):
    from drill_spark.readers import files
    from drill_spark.readers.files import SchemaStore

    monkeypatch.setattr(files, "SCHEMA_STORE_SIZE", 2)
    store = SchemaStore()
    for i in range(3):
        p = tmp_path / f"f{i}.json"
        p.write_text('{"id": 1}\n')
        read_json(spark, str(p), store=store)
    assert len(store._entries) == 2 and store.inferred == 3
    read_json(spark, str(tmp_path / "f0.json"), store=store)  # evicted
    assert store.inferred == 4 and store.reused == 0
    read_json(spark, str(tmp_path / "f2.json"), store=store)
    assert store.reused == 1


def test_schema_store_key_lists_subdirectories(spark, tmp_path):
    """The key's listing covers nested directories; a path that cannot
    be listed (a broken symlink inside it) or holds a symlinked
    directory is not stored."""
    from drill_spark.readers.files import SchemaStore

    store = SchemaStore()
    d = tmp_path / "nested"
    (d / "y=1").mkdir(parents=True)
    (d / "y=1" / "a.json").write_text('{"id": 1}\n')
    k1 = store.key(spark, str(d), "json", {})
    assert k1 == store.key(spark, str(d), "json", {})
    (d / "y=2").mkdir()
    (d / "y=2" / "b.json").write_text('{"id": 2}\n')
    assert store.key(spark, str(d), "json", {}) != k1
    os.symlink(d / "y=1", d / "y=3")
    assert store.key(spark, str(d), "json", {}) is None
    os.remove(d / "y=3")
    assert store.key(spark, str(d), "json", {}) is not None
    os.symlink(tmp_path / "missing.json", d / "dangling.json")
    assert store.key(spark, str(d), "json", {}) is None


def test_schema_store_skips_globs(store_session, tmp_path):
    d = tmp_path / "globbed"
    d.mkdir()
    (d / "a.json").write_text('{"id": 1}\n')
    s = store_session
    s.schema_store.clear()
    for _ in range(2):
        s.sql(f"select * from dfs.`{d}/*.json`").collect()
        assert _counts(s) == (1, 0)
    assert not s.schema_store._entries


def test_profile_counts_one_path_query_twice(store_session, tmp_path):
    p = tmp_path / "twice.json"
    p.write_text('{"id": 1}\n')
    s = store_session
    s.sql(f"select * from dfs.`{p}`").collect()
    assert _counts(s) == (1, 0)
    s.sql(f"select * from dfs.`{p}`").collect()
    assert _counts(s) == (0, 1)
