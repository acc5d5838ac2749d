"""External storage-plugin workspaces (contrib/storage-* analogs),
registered through ``DrillSession.register_workspace(..., kind=)``.

The JDBC path runs against a REAL embedded Derby database (the derby
jars ship on Spark's classpath), exercising registration, SQL-front
resolution, and pushdown; OpenTSDB and remote Drill run against local
REST servers; every connector row of ``PLUGINS`` asserts its missing-jar
gate (no connector jar or server is available in the test environment).
"""

from __future__ import annotations

import pytest

from drill_spark.readers.external import PLUGINS, Connector
from drill_spark.session import DrillSession

DERBY_DRIVER = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    """Create an embedded Derby DB with one populated table via py4j."""
    db = str(tmp_path_factory.mktemp("derby") / "testdb")
    url = f"jdbc:derby:{db};create=true"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate("CREATE TABLE ITEMS (ID INT, NAME VARCHAR(20), PRICE DOUBLE)")
    for i, (n, p) in enumerate([("alpha", 1.5), ("beta", 2.5), ("gamma", 9.0), ("delta", 0.25)]):
        st.executeUpdate(f"INSERT INTO ITEMS VALUES ({i}, '{n}', {p})")
    st.close()
    conn.close()
    return f"jdbc:derby:{db}"


def test_jdbc_workspace_roundtrip(session, derby_url):
    session.register_workspace("extdb", derby_url, kind="jdbc", options=DERBY_DRIVER)
    rows = session.sql("select NAME, PRICE from extdb.`ITEMS` where PRICE > 1.0").collect()
    assert sorted(r["NAME"] for r in rows) == ["alpha", "beta", "gamma"]


def test_jdbc_filter_pushdown(session, derby_url):
    """Catalyst pushes the predicate INTO the database (Drill's
    JdbcPushDownFilter analog) — the scan node lists PushedFilters."""
    session.register_workspace("extdb", derby_url, kind="jdbc", options=DERBY_DRIVER)
    df = session.sql("select ID from extdb.`ITEMS` where PRICE > 1.0")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "PRICE" in plan


def test_jdbc_partitioned_scan(session, derby_url):
    """partition_column options map to Spark's parallel JDBC ranges."""
    from drill_spark.readers.external import read_jdbc_table

    df = read_jdbc_table(
        session.spark,
        derby_url,
        "ITEMS",
        DERBY_DRIVER,
        {"partition_column": "ID", "lower_bound": "0", "upper_bound": "4", "num_partitions": "2"},
    )
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 4


@pytest.mark.parametrize(
    "kind", sorted(k for k, p in PLUGINS.items() if isinstance(p, Connector)))
def test_connector_gates(session, kind):
    """Every connector row resolves through the SQL front end and, with
    no connector jar on the classpath, raises a NotImplementedError
    naming the exact package to add."""
    session.register_workspace(f"gate_{kind}", "localhost", kind=kind)
    with pytest.raises(NotImplementedError) as e:
        session.sql(f"select * from gate_{kind}.`db.tbl`")
    assert PLUGINS[kind].package in str(e.value)


def test_connector_user_options_win(session, derby_url):
    """Workspace options are set after a row's fixed options, so they
    override them: the druid row's Avatica url and driver give way to
    Derby's, and the table reads through the row's JDBC source."""
    session.register_workspace("druid_derby", "http://unused", kind="druid",
                               options={"url": derby_url, **DERBY_DRIVER})
    rows = session.sql("select NAME from druid_derby.`ITEMS` where PRICE > 2").collect()
    assert sorted(r.NAME for r in rows) == ["beta", "gamma"]


def test_bad_workspace_kind_rejected(session):
    """An unknown kind, and a writable plugin workspace (a CTAS would
    write under its address as a directory), fail at registration."""
    with pytest.raises(ValueError, match="unknown workspace kind 'ftp'"):
        session.register_workspace("bad_kind", "localhost", kind="ftp")
    with pytest.raises(ValueError, match="jdbc workspaces are read-only"):
        session.register_workspace("bad_kind", "jdbc:derby:memory:x", writable=True, kind="jdbc")
    assert "bad_kind" not in session.workspaces


def test_schemata_reports_plugin_type(spark, tmp_path):
    """INFORMATION_SCHEMA.SCHEMATA's TYPE is the storage plugin type."""
    s = DrillSession(spark=spark)
    s.register_workspace("dfs.sch", str(tmp_path))
    s.register_workspace("extsch", "jdbc:derby:memory:none", kind="jdbc")
    types = {r.SCHEMA_NAME: r.TYPE for r in s.sql(
        "select SCHEMA_NAME, TYPE from information_schema.schemata").collect()}
    assert (types["dfs.sch"], types["extsch"]) == ("file", "jdbc")


def test_show_files_and_describe_schema_on_plugin_workspace(spark):
    """A plugin workspace's address is not a directory: SHOW FILES
    raises naming the kind, and DESCRIBE SCHEMA reports the kind as
    information_schema.schemata does."""
    s = DrillSession(spark=spark)
    s.register_workspace("ext", "jdbc:derby:memory:none", kind="jdbc")
    with pytest.raises(ValueError, match="jdbc"):
        s.sql("SHOW FILES IN ext")
    d = s.sql("DESCRIBE SCHEMA ext").head()
    assert (d["schema_name"], d["location"], d["type"]) == (
        "ext", "jdbc:derby:memory:none", "jdbc")


def test_mongo_bad_table_name(session):
    session.register_workspace("mg2", "mongodb://localhost:27017", kind="mongo")
    with pytest.raises(ValueError, match="db.collection"):
        session.sql("select * from mg2.`collonly`")


def test_hive_workspace_gate(session):
    """On a session built without the Hive catalog the error names the
    hive=True flag (catalogImplementation is a static conf, fixed at
    the first session build in the JVM)."""
    session.register_workspace("hv", "default", kind="hive")
    with pytest.raises(NotImplementedError, match="hive=True"):
        session.sql("select * from hv.`sometable`")


def test_hive_catalog_roundtrip(tmp_path):
    """Hive catalog round-trip in a fresh JVM (the in-process test
    session pins catalogImplementation=in-memory): create a metastore
    table, resolve it through hive.<db>.<table> workspace naming AND
    plain SQL, then restart the session on the same Derby metastore and
    confirm the table persists — the catalog behavior temp views don't
    have, and the reason the hive hook exists (contrib/storage-hive/core
    HiveStoragePlugin.java analog)."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        f"""
        import os
        os.environ["SPARK_GRAFT_HIVE_WAREHOUSE"] = {str(tmp_path / "wh")!r}
        os.environ["SPARK_GRAFT_HIVE_METASTORE"] = {str(tmp_path / "ms")!r}
        from drill_spark.session import DrillSession, get_spark
        spark = get_spark(cores=2, hive=True)
        assert spark.conf.get("spark.sql.catalogImplementation") == "hive"
        spark.sql("CREATE DATABASE hdb")
        spark.sql("CREATE TABLE hdb.t (id INT, name STRING) USING parquet")
        spark.sql("INSERT INTO hdb.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
        s = DrillSession(spark=spark)
        s.register_workspace("hive", "hdb", kind="hive")
        assert sorted(r.id for r in s.sql("select id from hive.`t`").collect()) == [1, 2, 3]
        assert sorted(r.id for r in s.sql("select id from hive.`hdb.t`").collect()) == [1, 2, 3]
        # the session catalog IS the hive catalog: plain SQL resolves it too
        assert s.sql("select count(*) as n from hdb.t").collect()[0]["n"] == 3
        spark.stop()
        # fresh session over the same metastore: the table persists
        spark2 = get_spark(app_name="hive2", cores=2, hive=True)
        assert spark2.sql("select count(*) as n from hdb.t").collect()[0]["n"] == 3
        print("HIVE_OK")
        """
    )
    import os

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ,
           "PYTHONPATH": repo_root + os.pathsep + os.environ.get("PYTHONPATH", "")}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env=env,
    )
    assert "HIVE_OK" in proc.stdout, proc.stderr[-3000:]


def test_cassandra_bad_table_name(session):
    session.register_workspace("cs2", "localhost", kind="cassandra")
    with pytest.raises(ValueError, match="keyspace.table"):
        session.sql("select * from cs2.`justatable`")


def test_opentsdb_real_rest_scan(session):
    """REAL OpenTSDB parity (contrib/storage-opentsdb): a local stub
    serving the documented /api/query response shape; the workspace
    resolves metric tables to (metric, tags, ts, val) rows with the
    aggregator/time options posted in the query body."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    seen = {}

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            seen["body"] = json.loads(self.rfile.read(n))
            resp = [{
                "metric": "sys.cpu.user",
                "tags": {"host": "web01"},
                "dps": {"1420000000": 42.5, "1420000060": 43.0},
            }, {
                "metric": "sys.cpu.user",
                "tags": {"host": "web02"},
                "dps": {"1420000000": 40.0},
            }]
            body = json.dumps(resp).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        session.register_workspace(
            "tsdb", f"http://127.0.0.1:{srv.server_port}", kind="opentsdb",
            options={"start": "2h-ago", "aggregator": "avg"})
        rows = session.sql(
            "select metric, tags.host as host, ts, val from tsdb.`sys.cpu.user` "
            "order by host, ts").collect()
        assert [(r.metric, r.host, r.ts, r.val) for r in rows] == [
            ("sys.cpu.user", "web01", 1420000000, 42.5),
            ("sys.cpu.user", "web01", 1420000060, 43.0),
            ("sys.cpu.user", "web02", 1420000000, 40.0),
        ]
        assert seen["body"]["start"] == "2h-ago"
        assert seen["body"]["queries"][0] == {
            "aggregator": "avg", "metric": "sys.cpu.user"}
    finally:
        srv.shutdown()


def test_opentsdb_empty_result_keeps_schema(session):
    """Zero datapoints must still yield the typed (metric, tags, ts,
    val) schema so downstream selects work — not a zero-column frame."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = json.dumps([]).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        session.register_workspace(
            "tsdb_empty", f"http://127.0.0.1:{srv.server_port}", kind="opentsdb")
        df = session.sql(
            "select metric, tags['host'] as host, ts, val "
            "from tsdb_empty.`no.such.metric`")
        assert df.count() == 0
        assert [f.name for f in df.schema.fields] == ["metric", "host", "ts", "val"]
    finally:
        srv.shutdown()


def test_googlesheets_and_maprdb_gates(session):
    """The last two reference plugins: googlesheets gates on OAuth
    credentials before anything else; maprdb gates on the proprietary
    MapR connector."""
    session.register_workspace("gs", "1abcSHEETID", kind="googlesheets")
    with pytest.raises(NotImplementedError, match="OAuth credentials"):
        session.sql("select * from gs.`Sheet1`")
    session.register_workspace("mdb", "/", kind="maprdb")
    try:
        session.sql("select * from mdb.`/tables/users`")
        pytest.skip("mapr connector present")
    except NotImplementedError as e:
        assert "maprdb-spark" in str(e) or "MapR" in str(e)


def test_drill_remote_query_roundtrip(session):
    """The drill-on-drill plugin (contrib/storage-drill) end-to-end
    against a REAL remote: our own REST server plays the remote Drill
    cluster, the client delegates SQL verbatim and rebuilds a typed
    frame from the reply's metadata type names."""
    from drill_spark.readers.external import read_drill_query
    from drill_spark.server import serve

    srv, port = serve(session)
    try:
        sql = ("select n_nationkey, n_name from "
               "dfs.`/root/testdata/sf0.001/nation.parquet` "
               "where n_regionkey = 1 order by n_nationkey")
        df = read_drill_query(session.spark, f"http://127.0.0.1:{port}", sql)
        assert [f.dataType.simpleString() for f in df.schema.fields] == [
            "int", "string"]
        local = session.sql(sql).collect()
        assert [tuple(r) for r in df.collect()] == [tuple(r) for r in local]
    finally:
        srv.shutdown()


def test_drill_remote_empty_result_is_typed(session):
    """Zero remote rows must still produce the typed schema (rebuilt
    from QueryResult.metadata), not a zero-column frame."""
    from drill_spark.readers.external import read_drill_query
    from drill_spark.server import serve

    srv, port = serve(session)
    try:
        df = read_drill_query(
            session.spark, f"http://127.0.0.1:{port}",
            "select r_regionkey, r_name from "
            "dfs.`/root/testdata/sf0.001/region.parquet` where 1 = 0")
        assert df.count() == 0
        assert [f.dataType.simpleString() for f in df.schema.fields] == [
            "int", "string"]
    finally:
        srv.shutdown()


def test_drill_workspace_sql_face_and_auth(session):
    """drill_ws.`table` resolves through SQL, Basic auth flows from
    workspace options, and a remote failure surfaces its message."""
    import pytest

    from drill_spark.server import serve

    srv, port = serve(session, auth=("alice", "s3cret"))
    try:
        session.register_workspace(
            "remote", f"http://127.0.0.1:{port}", kind="drill",
            options={"user": "alice", "password": "s3cret"})
        session.workspaces["remote"].options["query"] = (
            "select r_name from dfs.`/root/testdata/sf0.001/region.parquet` "
            "order by r_name limit 2")
        got = session.sql("select * from remote.`ignored`").collect()
        assert [r.r_name for r in got] == ["AFRICA", "AMERICA"]
        # wrong credentials -> the remote rejects
        from drill_spark.readers.external import read_drill_query
        with pytest.raises(RuntimeError):
            read_drill_query(
                session.spark, f"http://127.0.0.1:{port}",
                "select 1", auth=("alice", "wrong"))
        # remote planner error propagates its message
        with pytest.raises(RuntimeError, match="FAILED|HTTP"):
            read_drill_query(
                session.spark, f"http://127.0.0.1:{port}",
                "select * from no.such.table", auth=("alice", "s3cret"))
    finally:
        srv.shutdown()


def test_drill_remote_truncation_raises_unless_opted_in(session):
    """A remote reply capped at the server's default autoLimit must
    NEVER pass for the full table: the client raises unless the caller
    opts in (positive cap) or disables the cap (autoLimit 0)."""
    import pytest as _pytest

    from drill_spark.readers.external import read_drill_query
    from drill_spark.server import serve

    session.spark.range(0, 12_000).createOrReplaceTempView("big12k")
    srv, port = serve(session)
    url = f"http://127.0.0.1:{port}"
    try:
        with _pytest.raises(RuntimeError, match="truncated the result"):
            read_drill_query(session.spark, url, "select * from big12k")
        # explicit cap: accepted truncation
        df = read_drill_query(session.spark, url, "select * from big12k",
                              auto_limit=100)
        assert df.count() == 100
        # autoLimit 0 disables the cap entirely
        df = read_drill_query(session.spark, url, "select * from big12k",
                              auto_limit=0)
        assert df.count() == 12_000
    finally:
        srv.shutdown()
