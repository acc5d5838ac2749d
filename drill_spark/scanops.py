"""Oracle-backed scan queries for the text/easy format families.

Each SURVEY §2.1 scan family that previously verified by pytest only
gets a driver-checkable ``queries()`` entry here: a per-sf fixture is
materialized ONCE in the format under test (via the same atomic
``_materialize_once`` used by the avro/delta/iceberg rows), read back
through the format reader, and compared against a parquet-derived
DuckDB oracle over the same TPC-H fixture.

Reference parity targets:
- CSV: exec/java-exec store/easy/text/reader/CompliantTextBatchReader.java
  (extractHeader named-column model + the headerless ``columns[n]`` model)
- JSON: store/easy/json/JSONFormatPlugin.java (typed + all_text_mode)
- XML: contrib/format-xml
- LTSV: contrib/format-ltsv
- log/httpd/syslog: contrib/format-log, contrib/format-httpd,
  contrib/format-syslog
- SequenceFile: store/easy/sequencefile
- Excel: contrib/format-excel (ExcelBatchReader.java)
- SAS: contrib/format-sas (TestSasReader fixtures — read-only format,
  so the oracle is the literal row set of the reference fixture slice)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drill_spark.extops import _materialize_once
from drill_spark.registry import Query
from drill_spark.session import load_fixture

# --------------------------------------------------------------- CSV


def q_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV named-column model (extractHeader=true): supplier written to
    headered CSV once per sf_dir, read back typed via a provided DDL
    schema (Drill's ``cast`` pattern on text columns)."""
    from drill_spark.readers.files import read_csv

    def build(d: str) -> None:
        load_fixture(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
        ).write.option("header", "true").csv(d)

    out = _materialize_once(sf_dir, "csv", build)
    return read_csv(
        spark, out, header=True,
        schema="s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    )


ORACLE_CSV_SCAN = """
select s_suppkey, s_name, s_nationkey, s_acctbal from supplier
"""


def q_csv_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ``columns[n]`` array model for headerless files
    (CompliantTextBatchReader's positional mode): same files, no
    header extraction — project positions out of the array."""
    from drill_spark.readers.files import read_csv

    def build(d: str) -> None:
        load_fixture(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
        ).write.option("header", "false").csv(d)

    out = _materialize_once(sf_dir, "csv_nohdr", build)
    df = read_csv(spark, out, header=False)
    return df.select(
        F.element_at("columns", 1).cast("bigint").alias("s_suppkey"),
        F.element_at("columns", 2).alias("s_name"),
        F.element_at("columns", 4).cast("double").alias("s_acctbal"),
    )


ORACLE_CSV_COLUMNS = """
select s_suppkey, s_name, s_acctbal from supplier
"""


# -------------------------------------------------------------- JSON


def q_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON typed scan (schema inferred across files): nation written
    to NDJSON once per sf_dir, read back through the Drill-semantics
    reader (multiline tolerated, schema unioned)."""
    from drill_spark.readers.files import read_json

    def build(d: str) -> None:
        load_fixture(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey").write.json(d)

    out = _materialize_once(sf_dir, "json", build)
    return read_json(spark, out).select(
        F.col("n_nationkey").cast("int").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("int").alias("n_regionkey"),
    )


ORACLE_JSON_SCAN = """
select n_nationkey, n_name, n_regionkey from nation
"""


def q_json_text_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """all_text_mode (store.json.all_text_mode): every primitive reads
    as VARCHAR — the schema-drift survival mode."""
    from drill_spark.readers.files import read_json

    def build(d: str) -> None:
        load_fixture(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey").write.json(d)

    out = _materialize_once(sf_dir, "json", build)
    return read_json(spark, out, all_text_mode=True).select(
        "n_nationkey", "n_name", "n_regionkey")


ORACLE_JSON_TEXT_MODE = """
select
  cast(n_nationkey as varchar) as n_nationkey,
  n_name,
  cast(n_regionkey as varchar) as n_regionkey
from nation
"""


def q_json_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo extended JSON V1/V2 decode
    (store/easy/json/extended/ExtendedTypeNames.java parity): nation
    serialized with $-typed literals ($oid, $numberLong, canonical
    $date, $dateDay, $binary) once per sf_dir, read back typed."""
    import base64
    import json as _json

    from drill_spark.readers.files import read_json

    def build(d: str) -> None:
        os.makedirs(d, exist_ok=True)
        rows = sorted(
            (int(r.n_nationkey), r.n_name)
            for r in load_fixture(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name").collect())
        with open(os.path.join(d, "nations.json"), "w") as f:
            for k, n in rows:
                f.write(_json.dumps({
                    "oid": {"$oid": f"{k:024x}"},
                    "nkey": {"$numberLong": str(k * 10_000_000_000)},
                    "ts": {"$date": {"$numberLong": str(1577836800000 + k * 1000)}},
                    "day": {"$dateDay": f"2020-01-{(k % 28) + 1:02d}"},
                    "name_b64": {"$binary": base64.b64encode(
                        n.encode()).decode(), "$type": "0"},
                }) + "\n")

    out = _materialize_once(sf_dir, "xjson", build)
    df = read_json(spark, out, extended=True)
    return df.select(
        "oid", "nkey",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "day",
        F.decode("name_b64", "UTF-8").alias("n_name"))


ORACLE_JSON_EXTENDED = """
select
  lower(lpad(to_hex(n_nationkey), 24, '0')) as oid,
  cast(n_nationkey * 10000000000 as bigint) as nkey,
  strftime(to_timestamp(1577836800 + n_nationkey), '%Y-%m-%d %H:%M:%S') as ts_s,
  date '2020-01-01' + cast(n_nationkey % 28 as int) as day,
  n_name
from nation
"""


# --------------------------------------------------------------- XML


def q_union_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-type read (exec.enable_union_type, UnionVector.java:61 +
    UnionFunctions typeOf): a JSON field whose TYPE varies per row
    (bigint / varchar / double / boolean / list, keyed n_nationkey % 5)
    read as one Spark VARIANT column, then per-VALUE type inspection via
    union_typeof (Drill minor-type names) and canonical JSON rendering
    of the heterogeneous value. The DuckDB oracle reconstructs both
    closed-form, so the hash match proves per-value type preservation —
    Drill's signature type-system feature — cross-engine."""
    import json as _json

    from drill_spark.functions import ensure_registered
    from drill_spark.readers.files import read_json

    def build(d: str) -> None:
        os.makedirs(d, exist_ok=True)
        rows = sorted(
            (int(r.n_nationkey), r.n_name)
            for r in load_fixture(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name").collect())
        with open(os.path.join(d, "union.json"), "w") as f:
            for k, n in rows:
                val = [k * 7, n, k + 0.25, k % 2 == 0, [k, k + 1]][k % 5]
                f.write(_json.dumps({"k": k, "val": val}) + "\n")

    out = _materialize_once(sf_dir, "unionjson", build)
    ensure_registered(spark)
    read_json(spark, out, union_mode=True).createOrReplaceTempView(
        "__union_type_v")
    return spark.sql(
        "select variant_get(v, '$.k', 'int') as k,"
        "       union_typeof(variant_get(v, '$.val')) as vtype,"
        "       to_json(variant_get(v, '$.val')) as sval "
        "from __union_type_v")


ORACLE_UNION_TYPE = """
select cast(n_nationkey as int) as k,
  case cast(n_nationkey % 5 as int)
    when 0 then 'BIGINT' when 1 then 'VARCHAR' when 2 then 'FLOAT8'
    when 3 then 'BIT' else 'LIST' end as vtype,
  case cast(n_nationkey % 5 as int)
    when 0 then cast(n_nationkey * 7 as varchar)
    when 1 then '"' || n_name || '"'
    when 2 then cast(n_nationkey + 0.25 as varchar)
    when 3 then case when n_nationkey % 2 = 0 then 'true' else 'false' end
    else '[' || cast(n_nationkey as varchar) || ','
             || cast(n_nationkey + 1 as varchar) || ']' end as sval
from nation
"""


def q_xml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scan (contrib/format-xml analog) through Spark's native
    distributed XML source: region serialized as <rows><row>…</row>
    elements once per sf_dir."""
    from drill_spark.readers.files import read_xml

    def build(d: str) -> None:
        os.makedirs(d, exist_ok=True)
        rows = sorted(
            (int(r.r_regionkey), r.r_name)
            for r in load_fixture(spark, sf_dir, "region")
            .select("r_regionkey", "r_name").collect())
        body = "".join(
            f"<row><r_regionkey>{k}</r_regionkey>"
            f"<r_name>{n}</r_name></row>" for k, n in rows)
        with open(os.path.join(d, "regions.xml"), "w") as f:
            f.write(f"<rows>{body}</rows>")

    out = _materialize_once(sf_dir, "xml", build)
    return read_xml(spark, os.path.join(out, "regions.xml"),
                    row_tag="row").select(
        F.col("r_regionkey").cast("bigint").alias("r_regionkey"), "r_name")


ORACLE_XML_SCAN = """
select cast(r_regionkey as bigint) as r_regionkey, r_name from region
"""


# -------------------------------------------------------------- LTSV


def q_ltsv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTSV scan (contrib/format-ltsv analog): nation as per-line
    label:value pairs; the provided-schema path (no discovery pass —
    the 100 TB shape) plus a value containing ':' to prove the
    first-colon split."""
    from drill_spark.readers.files import read_ltsv

    def build(d: str) -> None:
        os.makedirs(d, exist_ok=True)
        rows = sorted(
            (int(r.n_nationkey), r.n_name)
            for r in load_fixture(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name").collect())
        with open(os.path.join(d, "nations.ltsv"), "w") as f:
            for k, n in rows:
                f.write(f"nkey:{k}\tnname:{n}\tnote:k:{k}\n")

    out = _materialize_once(sf_dir, "ltsv", build)
    return read_ltsv(spark, os.path.join(out, "nations.ltsv"),
                     schema="nkey int, nname string, note string")


ORACLE_LTSV_SCAN = """
select n_nationkey as nkey, n_name as nname,
       'k:' || cast(n_nationkey as varchar) as note
from nation
"""


# ------------------------------------------------------ log family


def q_log_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic regex log scan (contrib/format-log LogFormatPlugin
    analog): a custom 3-group pattern over nation-derived lines,
    typed per capture group."""
    from drill_spark.readers.logs import read_log

    def build(d: str) -> None:
        os.makedirs(d, exist_ok=True)
        rows = sorted(
            (int(r.n_nationkey), r.n_name)
            for r in load_fixture(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name").collect())
        with open(os.path.join(d, "app.log"), "w") as f:
            for k, n in rows:
                f.write(f"INFO {k} {n}\n")

    out = _materialize_once(sf_dir, "log", build)
    return read_log(
        spark, os.path.join(out, "app.log"),
        regex=r"^(\w+) (\d+) (.*)$",
        fields=[("level", "string"), ("nkey", "int"), ("nname", "string")],
    )


ORACLE_LOG_SCAN = """
select 'INFO' as level, n_nationkey as nkey, n_name as nname from nation
"""


def q_httpd_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache combined-format access log scan (contrib/format-httpd
    analog): nation-derived request lines through the combined regex;
    checks field extraction + int/long typing."""
    from drill_spark.readers.logs import read_httpd_log

    def build(d: str) -> None:
        os.makedirs(d, exist_ok=True)
        rows = sorted(
            (int(r.n_nationkey), r.n_name)
            for r in load_fixture(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name").collect())
        with open(os.path.join(d, "access.log"), "w") as f:
            for k, n in rows:
                f.write(
                    f'10.0.0.{k} - frank [01/Jan/2020:00:00:00 +0000] '
                    f'"GET /n/{k} HTTP/1.1" 200 {k * 10} '
                    f'"http://ref.example/" "agent/{n}"\n')

    out = _materialize_once(sf_dir, "httpd", build)
    return read_httpd_log(spark, os.path.join(out, "access.log")).select(
        "client_ip", "method", "path", "status", "bytes", "user_agent")


ORACLE_HTTPD_SCAN = """
select
  '10.0.0.' || cast(n_nationkey as varchar) as client_ip,
  'GET' as method,
  '/n/' || cast(n_nationkey as varchar) as path,
  cast(200 as int) as status,
  cast(n_nationkey * 10 as bigint) as bytes,
  'agent/' || n_name as user_agent
from nation
"""


def q_syslog_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 3164 syslog scan (contrib/format-syslog analog): PRI
    decomposition into facility/severity checked against closed-form
    arithmetic on the nation key."""
    from drill_spark.readers.logs import read_syslog

    def build(d: str) -> None:
        os.makedirs(d, exist_ok=True)
        rows = sorted(
            (int(r.n_nationkey), r.n_name)
            for r in load_fixture(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name").collect())
        with open(os.path.join(d, "sys.log"), "w") as f:
            for k, n in rows:
                pri = 8 + (k % 8)
                f.write(f"<{pri}>Jan  1 00:00:0{k % 10} host{k} "
                        f"app[{k}]: event for {n}\n")

    out = _materialize_once(sf_dir, "syslog", build)
    return read_syslog(spark, os.path.join(out, "sys.log")).select(
        "host", "app", "pid", "severity", "facility", "message")


ORACLE_SYSLOG_SCAN = """
select
  'host' || cast(n_nationkey as varchar) as host,
  'app' as app,
  cast(n_nationkey as int) as pid,
  cast(n_nationkey % 8 as int) as severity,
  cast(1 as int) as facility,
  'event for ' || n_name as message
from nation
"""


# ------------------------------------------------------ SequenceFile


def q_sequencefile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SequenceFile scan (store/easy/sequencefile analog): nation
    written as Text/Text pairs by the spec-encoded distributed writer,
    read back through the Hadoop input format — a real cross-decoder
    interop check (our encoder, Hadoop's Java reader)."""
    from drill_spark.readers.files import read_sequencefile, write_sequencefile

    def build(d: str) -> None:
        write_sequencefile(
            load_fixture(spark, sf_dir, "nation").select(
                F.col("n_name").alias("binary_key"),
                F.col("n_nationkey").alias("binary_value")),
            d)

    out = _materialize_once(sf_dir, "seqfile", build)
    return read_sequencefile(spark, out).select(
        F.col("binary_key").alias("n_name"),
        F.col("binary_value").cast("int").alias("n_nationkey"))


ORACLE_SEQUENCEFILE_SCAN = """
select n_name, n_nationkey from nation
"""


# ------------------------------------------------------------- Excel


def q_excel_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excel scan (contrib/format-excel ExcelBatchReader parity):
    region written to a spec-built .xlsx (numeric + inline-string
    cells) and read back with per-column DOUBLE/STRING typing."""
    from drill_spark.readers.excel import read_excel, write_xlsx

    def build(d: str) -> None:
        os.makedirs(d, exist_ok=True)
        rows = sorted(
            (float(r.r_regionkey), r.r_name)
            for r in load_fixture(spark, sf_dir, "region")
            .select("r_regionkey", "r_name").collect())
        write_xlsx(os.path.join(d, "regions.xlsx"),
                   ["rkey", "rname"], rows, sheet="regions")

    out = _materialize_once(sf_dir, "xlsx", build)
    return read_excel(spark, os.path.join(out, "regions.xlsx"))


ORACLE_EXCEL_SCAN = """
select cast(r_regionkey as double) as rkey, r_name as rname from region
"""


# --------------------------------------------------------------- SAS


_SAS_FIXTURE = ("/root/reference/contrib/format-sas/src/test/resources/"
                "sas/mixed_data_two.sas7bdat")


def q_sas_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAS .sas7bdat scan (contrib/format-sas TestSasReader parity):
    the reference's own RLE-compressed fixture decoded by this repo's
    native reader; the oracle is the fixture's published row content
    (x1<=3 slice — each row appears twice in the 50-row file)."""
    from drill_spark.readers.sas import read_sas

    return read_sas(spark, _SAS_FIXTURE).where(F.col("x1") <= 3).select(
        F.col("x1").cast("int").alias("x1"),
        F.col("x3").alias("x3"),
        F.col("x15").cast("bigint").alias("x15"),
        F.col("x21").cast("bigint").alias("x21"),
    )


ORACLE_SAS_SCAN = """
select * from (
  values (1, 'AAAAAAAA', 31626061, 31726061),
         (2, 'BBBBBBBB', 378784922, 378884922),
         (3, 'CCCC', 726030183, 726130183),
         (1, 'AAAAAAAA', 31626061, 31726061),
         (2, 'BBBBBBBB', 378784922, 378884922),
         (3, 'CCCC', 726030183, 726130183)
) as t(x1, x3, x15, x21)
"""


# ------------------------------------------------------------- HTTP


def q_http_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP storage plugin scan (contrib/storage-http analog): a local
    REST endpoint serves nation-derived JSON; read_http paginates and
    lifts it to a DataFrame. The server lives only for the (eager)
    fetch — the returned plan holds materialized rows, like the
    reference's REST scan batch."""
    import http.server
    import json as _json
    import threading

    from drill_spark.readers.http import read_http

    rows = sorted(
        (int(r.n_nationkey), r.n_name)
        for r in load_fixture(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name").collect())
    payload = _json.dumps(
        {"data": [{"nkey": k, "nname": n} for k, n in rows]}).encode()

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib handler name)
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):  # silence
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        df = read_http(
            spark, f"http://127.0.0.1:{srv.server_address[1]}/nations",
            data_path="data")
    finally:
        srv.shutdown()
        srv.server_close()
    return df.select(F.col("nkey").cast("int").alias("nkey"),
                     F.col("nname").alias("nname"))


ORACLE_HTTP_SCAN = """
select n_nationkey as nkey, n_name as nname from nation
"""


ROWS = (
    Query("op_csv_scan", q_csv_scan, ORACLE_CSV_SCAN),
    Query("op_csv_columns", q_csv_columns, ORACLE_CSV_COLUMNS),
    Query("op_json_scan", q_json_scan, ORACLE_JSON_SCAN),
    Query("op_json_text_mode", q_json_text_mode, ORACLE_JSON_TEXT_MODE),
    Query("op_json_extended", q_json_extended, ORACLE_JSON_EXTENDED),
    Query("op_union_type", q_union_type, ORACLE_UNION_TYPE),
    Query("op_xml_scan", q_xml_scan, ORACLE_XML_SCAN),
    Query("op_ltsv_scan", q_ltsv_scan, ORACLE_LTSV_SCAN),
    Query("op_log_scan", q_log_scan, ORACLE_LOG_SCAN),
    Query("op_httpd_scan", q_httpd_scan, ORACLE_HTTPD_SCAN),
    Query("op_syslog_scan", q_syslog_scan, ORACLE_SYSLOG_SCAN),
    Query("op_sequencefile_scan", q_sequencefile_scan, ORACLE_SEQUENCEFILE_SCAN),
    Query("op_excel_scan", q_excel_scan, ORACLE_EXCEL_SCAN),
    Query("op_sas_scan", q_sas_scan, ORACLE_SAS_SCAN),
    Query("op_http_scan", q_http_scan, ORACLE_HTTP_SCAN),
)

if not os.path.exists(_SAS_FIXTURE):  # reference tree absent: skip cleanly
    ROWS = tuple(q for q in ROWS if q.build is not q_sas_scan)
