"""SQL front end: Drill-isms → Spark SQL (SURVEY §2.13, §7 steps 3+5).

Reference behaviors (citations relative to /root/reference):
- backtick path tables  (parserImpls.ftl; TestExampleQueries.java:106)
- table functions w/ reader options
  (store/table/function/WithOptionsTableMacro.java, TestSelectWithOption.java)
- ALTER SESSION SET / RESET  (planner/sql/handlers/SetOptionHandler.java)
- SHOW FILES / SHOW SCHEMAS / USE  (parserImpls.ftl:42-135)
- CTAS / DROP TABLE / INSERT INTO  (CreateTableHandler.java,
  InsertHandler.java) into writable workspaces
- CREATE VIEW  (ViewHandler.java)
- INFORMATION_SCHEMA & sys tables  (store/ischema/, store/sys/)
"""

from __future__ import annotations

import json
import os

import pytest

from drill_spark.session import DrillSession


@pytest.fixture(scope="module")
def dsession(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("front")
    (root / "people.json").write_text(
        "\n".join(json.dumps(r) for r in [
            {"id": 1, "name": "ada", "age": 36},
            {"id": 2, "name": "bob", "age": 41},
        ])
    )
    (root / "pipes.psv").write_text("a|b\n1|x\n2|y\n")
    s = DrillSession(spark=spark)
    s.register_workspace("dfs.data", str(root), "json")
    s.workspaces["dfs.data"].writable = True
    return s


def test_backtick_path_table(dsession):
    root = dsession.workspaces["dfs.data"].path
    df = dsession.sql(f"select name from dfs.`{root}/people.json` where age > 40")
    assert [r["name"] for r in df.collect()] == ["bob"]


def test_workspace_relative_path(dsession):
    df = dsession.sql("select count(*) as n from dfs.data.`people.json`")
    assert df.head()["n"] == 2


def test_table_function_options(dsession):
    # TestSelectWithOption semantics: per-query reader options
    df = dsession.sql(
        "select * from table(dfs.data.`pipes.psv`(type => 'text', fieldDelimiter => '|', extractHeader => 'true'))"
    )
    assert df.columns == ["a", "b"]
    assert df.count() == 2


def test_table_function_log_format(dsession, tmp_path_factory):
    """Drill contrib/format-log via table function: regex + field DDL."""
    root = tmp_path_factory.mktemp("logs")
    (root / "app.log").write_text("alpha 1\nbeta 2\n")
    dsession.register_workspace("dfs.logs", str(root), "log")
    df = dsession.sql(
        r"select * from table(dfs.logs.`app.log`(type => 'log',"
        r" regex => '^(\w+) (\d+)$', schema => 'k string, v int'))"
    )
    assert dict(df.dtypes) == {"k": "string", "v": "int"}
    assert {(r["k"], r["v"]) for r in df.collect()} == {("alpha", 1), ("beta", 2)}


def test_alter_session_set_and_reset(dsession):
    dsession.sql("ALTER SESSION SET `planner.broadcast_threshold` = 1048576")
    assert dsession.spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "1048576"
    assert dsession.get_option("planner.broadcast_threshold") == "1048576"
    dsession.sql("RESET `planner.broadcast_threshold`")
    assert dsession.get_option("planner.broadcast_threshold") is None
    dsession.sql("ALTER SESSION SET `spark.sql.autoBroadcastJoinThreshold` = 67108864")


def test_show_files(dsession):
    rows = dsession.sql("SHOW FILES IN dfs.data").collect()
    names = {r["name"] for r in rows}
    assert {"people.json", "pipes.psv"} <= names


def test_show_schemas(dsession):
    rows = dsession.sql("SHOW SCHEMAS").collect()
    schemas = {r["SCHEMA_NAME"] for r in rows}
    assert {"dfs", "dfs.tmp", "dfs.data"} <= schemas


def test_use_workspace(dsession):
    out = dsession.sql("USE dfs.data").head()
    assert out["ok"] is True
    assert dsession.options["drill.default_workspace"] == "dfs.data"


def test_ctas_drop_roundtrip(dsession):
    dsession.sql(
        "CREATE TABLE dfs.data.`out_people` AS select id, upper(name) as name from dfs.data.`people.json`"
    )
    path = os.path.join(dsession.workspaces["dfs.data"].path, "out_people")
    assert os.path.isdir(path)
    back = dsession.sql(f"select name from dfs.`{path}` order by name")
    assert [r["name"] for r in back.collect()] == ["ADA", "BOB"]
    # second CTAS without OR REPLACE errors (Drill: table exists)
    with pytest.raises(Exception):
        dsession.sql("CREATE TABLE dfs.data.`out_people` AS select 1 as x")
    dsession.sql("CREATE OR REPLACE TABLE dfs.data.`out_people` AS select 1 as x")
    dsession.sql("DROP TABLE dfs.data.`out_people`")
    assert not os.path.exists(path)
    out = dsession.sql("DROP TABLE IF EXISTS dfs.data.`out_people`").head()
    assert out["ok"] is True


def test_ctas_requires_writable_workspace(dsession):
    with pytest.raises(ValueError, match="not writable"):
        dsession.sql("CREATE TABLE dfs.`/tmp/nope_ws` AS select 1 as x")


def test_insert_into_appends(dsession):
    dsession.sql("CREATE OR REPLACE TABLE dfs.data.`ins_t` AS select 1 as x")
    dsession.sql("INSERT INTO dfs.data.`ins_t` select 2 as x")
    path = os.path.join(dsession.workspaces["dfs.data"].path, "ins_t")
    vals = sorted(r["x"] for r in dsession.sql(f"select x from dfs.`{path}`").collect())
    assert vals == [1, 2]
    dsession.sql("DROP TABLE dfs.data.`ins_t`")


def test_create_view(dsession):
    dsession.sql("CREATE OR REPLACE VIEW adults AS select * from dfs.data.`people.json` where age >= 40")
    assert dsession.sql("select count(*) as n from adults").head()["n"] == 1


def test_explain_plan_for(dsession):
    """Drill grammar: EXPLAIN PLAN FOR <q> (parserImpls.ftl)."""
    root = dsession.workspaces["dfs.data"].path
    rows = dsession.sql(f"EXPLAIN PLAN FOR select * from dfs.`{root}/people.json`").collect()
    assert any("Scan" in r[0] or "Relation" in r[0] for r in rows)


def test_describe_path_table(dsession):
    root = dsession.workspaces["dfs.data"].path
    rows = dsession.sql(f"DESCRIBE dfs.`{root}/people.json`").collect()
    cols = {r["col_name"] for r in rows}
    assert {"id", "name", "age"} <= cols


def test_dotted_information_schema_and_sys_queries(dsession):
    """Drill-style dotted system tables: INFORMATION_SCHEMA.`TABLES`,
    sys.options (store/ischema/InfoSchemaTable.java, store/sys/)."""
    dsession.sql("CREATE OR REPLACE VIEW isq_probe AS select 1 as one")
    rows = dsession.sql(
        "select TABLE_NAME from INFORMATION_SCHEMA.`TABLES` where TABLE_NAME = 'isq_probe'"
    ).collect()
    assert len(rows) == 1
    cols = dsession.sql(
        "select COLUMN_NAME, DATA_TYPE from information_schema.columns where TABLE_NAME = 'isq_probe'"
    ).collect()
    assert [(r["COLUMN_NAME"], r["DATA_TYPE"]) for r in cols] == [("one", "int")]
    dsession.set_option("probe.opt", "on")
    opts = {r["name"]: r["val"] for r in dsession.sql("select * from sys.options").collect()}
    assert opts.get("probe.opt") == "on"
    fns = {r["name"] for r in dsession.sql("select name from sys.functions").collect()}
    assert "kvgen" in fns  # compat layer visible in the registry


def test_information_schema_and_sys(dsession):
    from drill_spark.catalog import register_system_views

    register_system_views(dsession)
    tabs = dsession.sql(
        "select TABLE_NAME from information_schema_tables"
    ).collect()
    assert len(tabs) > 0
    dsession.set_option("my.option", "42")
    from drill_spark.catalog import register_system_views as _r

    _r(dsession)  # refresh snapshot
    opts = {r["name"]: r["val"] for r in dsession.sql("select * from sys_options").collect()}
    assert opts.get("my.option") == "42"
    ver = dsession.sql("select * from sys_version").head()
    assert ver["spark_version"].startswith("4.")
    # sys.aliases / sys.connections (AliasesIterator /
    # BitToUserConnectionIterator analogs)
    dsession.sql("CREATE ALIAS sysalias FOR TABLE sys.version")
    _r(dsession)
    al = {r.alias: r.name for r in dsession.sql("select * from sys.aliases").collect()}
    assert al.get("sysalias") == "sys.version"
    conn = dsession.sql("select * from sys.connections").head()
    assert conn.client == "embedded" and conn.queries >= 1
    dsession.sql("DROP ALIAS sysalias")


def test_table_aliases(dsession):
    """CreateAliasHandler analog: alias → table reference, resolved
    before table lookup; SHOW ALIASES; DROP ALIAS."""
    root = dsession.workspaces["dfs.data"].path
    dsession.sql(f"CREATE ALIAS folks FOR TABLE dfs.data.`people.json`")
    df = dsession.sql("select name from folks where age > 40")
    assert [r["name"] for r in df.collect()] == ["bob"]
    shown = {(r["alias"]) for r in dsession.sql("SHOW ALIASES").collect()}
    assert "folks" in shown
    dsession.sql("DROP ALIAS folks")
    assert dsession.sql("SHOW ALIASES").where("alias = 'folks'").count() == 0
    out = dsession.sql("DROP ALIAS IF EXISTS folks").head()
    assert out["ok"] is True
    import pytest as _pytest

    with _pytest.raises(Exception):
        dsession.sql("DROP ALIAS folks")


def test_refresh_table_metadata(dsession):
    root = dsession.workspaces["dfs.data"].path
    out = dsession.sql(f"REFRESH TABLE METADATA dfs.data.`people.json`").head()
    assert out["ok"] is True
    out = dsession.sql(f"REFRESH TABLE METADATA `{root}`").head()
    assert out["ok"] is True


def test_materialized_view_roundtrip(dsession, tmp_path):
    """MaterializedViewHandler analog: materialize to parquet, serve
    queries from the materialization, drop cleans up."""
    dsession.workspaces["dfs.tmp"].path = str(tmp_path)
    dsession.sql(
        "CREATE MATERIALIZED VIEW mv_adults AS "
        "select name, age from dfs.data.`people.json` where age > 30"
    )
    path = dsession.materialized["mv_adults"]
    assert os.path.isdir(path)  # physically materialized as parquet
    df = dsession.sql("select name from mv_adults order by name")
    assert [r["name"] for r in df.collect()] == ["ada", "bob"]
    # the query plan reads the parquet materialization, not people.json
    assert "json" not in df._jdf.queryExecution().executedPlan().toString().lower()
    dsession.sql("DROP MATERIALIZED VIEW mv_adults")
    assert not os.path.exists(path)
    with pytest.raises(Exception):
        dsession.sql("DROP MATERIALIZED VIEW mv_adults")
    out = dsession.sql("DROP MATERIALIZED VIEW IF EXISTS mv_adults").head()
    assert out["ok"] is True


def test_persisted_view_file(dsession):
    """ViewHandler.java / dotdrill analog: a workspace-qualified view
    persists as <name>.view.drill JSON in the workspace, resolves by
    file name, survives into a NEW session over the same workspace,
    and DROP VIEW removes the file."""
    root = dsession.workspaces["dfs.data"].path
    dsession.sql(
        "CREATE VIEW dfs.data.seniors AS "
        "select name, age from dfs.data.`people.json` where age > 40"
    )
    vfile = os.path.join(root, "seniors.view.drill")
    assert os.path.exists(vfile)
    assert json.load(open(vfile))["name"] == "seniors"
    # resolves via the file path, with further predicates applied
    df = dsession.sql(f"select name from dfs.data.`seniors.view.drill` where age < 100")
    assert [r["name"] for r in df.collect()] == ["bob"]
    # a FRESH session over the same workspace sees the persisted view
    s2 = DrillSession(spark=dsession.spark)
    s2.register_workspace("dfs.data", root, "json")
    assert [r["name"] for r in s2.sql(
        "select name from dfs.data.`seniors.view.drill`"
    ).collect()] == ["bob"]
    dsession.sql("DROP VIEW dfs.data.seniors")
    assert not os.path.exists(vfile)


def test_create_function_using_jar_explains(dsession):
    """CreateFunctionHandler.java analog: Drill UDF jars have no Spark
    entry points — the error says what to use instead."""
    with pytest.raises(NotImplementedError, match="CREATE TEMPORARY FUNCTION"):
        dsession.sql("CREATE FUNCTION USING JAR 'myudfs.jar'")


def test_materialized_view_automatic_rewrite(dsession, tmp_path):
    """DefaultSqlHandler.java:209 analog: a query phrased over the BASE
    tables — never naming the MV — is answered from the materialization
    when its semantics equal the MV definition (normalized-text fast
    path and canonicalized-plan match for formatting/case drift)."""
    dsession.workspaces["dfs.tmp"].path = str(tmp_path)
    dsession.sql(
        "CREATE MATERIALIZED VIEW mv_rw AS "
        "select name, age from dfs.data.`people.json` where age > 30"
    )
    # same query, different whitespace/case, never mentions mv_rw
    df = dsession.sql(
        "SELECT   name,\n  age FROM dfs.data.`people.json`\nWHERE age > 30"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_materialized" in plan and "json" not in plan.lower().replace("people.json", "")
    assert sorted(r["name"] for r in df.collect()) == ["ada", "bob"]
    # a DIFFERENT query is not hijacked by the rewrite
    other = dsession.sql("select name from dfs.data.`people.json` where age > 100")
    assert "_materialized" not in other._jdf.queryExecution().executedPlan().toString()
    assert other.count() == 0
    dsession.sql("DROP MATERIALIZED VIEW mv_rw")


def test_nested_json_paths(dsession, tmp_path):
    """Drill's signature schema-on-read surface (TestExampleQueries-style
    nested access): deep struct paths, array subscripts, and lateral
    flatten over a nested repeated field, straight through the SQL front
    end with no DDL."""
    p = tmp_path / "pastries.json"
    p.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {
                    "id": "0001",
                    "kind": "donut",
                    "batters": {"batter": [{"bid": "1001", "flavor": "plain"},
                                           {"bid": "1002", "flavor": "chocolate"}]},
                    "topping": [{"tid": "5001", "t": "none"}, {"tid": "5002", "t": "glazed"}],
                },
                {
                    "id": "0002",
                    "kind": "raised",
                    "batters": {"batter": [{"bid": "1001", "flavor": "plain"}]},
                    "topping": [{"tid": "5002", "t": "glazed"}],
                },
            ]
        )
    )
    # deep path + array subscript (0-based in Spark SQL)
    r = dsession.sql(
        f"select t.batters.batter[1].flavor as f, t.topping[0].t as top "
        f"from dfs.`{p}` t where t.id = '0001'"
    ).head()
    assert r["f"] == "chocolate" and r["top"] == "none"
    # lateral flatten of a nested repeated field (FLATTEN analog)
    rows = dsession.sql(
        f"select t.id, b.flavor from dfs.`{p}` t "
        f"lateral view explode(t.batters.batter) x as b order by t.id, b.flavor"
    ).collect()
    assert [(r["id"], r["flavor"]) for r in rows] == [
        ("0001", "chocolate"), ("0001", "plain"), ("0002", "plain"),
    ]
    # aggregate over unnested nested data
    cnt = dsession.sql(
        f"select t.id, size(t.topping) as n from dfs.`{p}` t order by t.id"
    ).collect()
    assert [(r["id"], r["n"]) for r in cnt] == [("0001", 2), ("0002", 1)]


def test_sys_profiles_and_drillbits(dsession):
    """sys.profiles = query history (QueryManager analog); sys.drillbits
    = cluster membership from the Spark status tracker."""
    dsession.sql("select 1 as probe_marker")
    prof = dsession.sql("select * from sys.profiles").collect()
    assert any("probe_marker" in r["query"] for r in prof)
    assert all(r["state"] in ("COMPLETED", "FAILED") for r in prof)
    bits = dsession.sql("select * from sys.drillbits").collect()
    assert len(bits) >= 1 and all(r["hostname"] for r in bits)
    # failed statements are recorded too
    try:
        dsession.sql("select definitely_not_a_column from sys.version")
    except Exception:
        pass
    prof2 = dsession.sql("select * from sys.profiles where state = 'FAILED'").collect()
    assert any("definitely_not_a_column" in r["query"] for r in prof2)


def test_ctas_partition_by(dsession):
    """CTAS PARTITION BY (CreateTableHandler analog): Hive-layout dirs,
    partition pruning active on readback."""
    dsession.sql(
        "CREATE OR REPLACE TABLE dfs.data.`by_age` PARTITION BY (age) AS "
        "select id, name, age from dfs.data.`people.json`"
    )
    root = os.path.join(dsession.workspaces["dfs.data"].path, "by_age")
    assert any(d.startswith("age=") for d in os.listdir(root))
    df = dsession.sql(f"select name from dfs.`{root}` where age = 36")
    assert [r["name"] for r in df.collect()] == ["ada"]
    # partition filter must prune at scan time (PartitionFilters, not a
    # post-scan Filter over all files)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "age" in plan.split("PartitionFilters: [")[1][:80]
    dsession.sql("DROP TABLE dfs.data.`by_age`")


def test_show_files_detail_and_describe_schema(dsession):
    files = {r["name"]: r for r in dsession.sql("SHOW FILES IN dfs.data").collect()}
    f = files["people.json"]
    assert f["isFile"] and f["length"] > 0
    assert f["modificationTime"] is not None and f["permissions"]
    d = dsession.sql("DESCRIBE SCHEMA dfs.data").head()
    assert d["schema_name"] == "dfs.data" and d["writable"] is True
    assert d["default_format"] == "json"
    with pytest.raises(ValueError):
        dsession.sql("DESCRIBE SCHEMA nope.nothere")


def test_store_format_option_overrides_ctas(dsession):
    """ALTER SESSION SET store.format (OUTPUT_FORMAT_OPTION analog)
    switches the CTAS output format away from the workspace default."""
    dsession.sql("ALTER SESSION SET `store.format` = 'parquet'")
    try:
        dsession.sql(
            "CREATE OR REPLACE TABLE dfs.data.`fmt_probe` AS select 1 as x"
        )
        root = os.path.join(dsession.workspaces["dfs.data"].path, "fmt_probe")
        assert any(f.endswith(".parquet") for f in os.listdir(root))
    finally:
        dsession.sql("RESET `store.format`")
        dsession.sql("DROP TABLE IF EXISTS dfs.data.`fmt_probe`")


def test_temporary_table_dropped_on_close(spark, tmp_path):
    """CREATE TEMPORARY TABLE is session-scoped: close() removes the
    data (UserSession teardown analog); regular tables survive."""
    s = DrillSession(spark=spark)
    s.register_workspace("dfs.t", str(tmp_path), "parquet")
    s.workspaces["dfs.t"].writable = True
    s.sql("CREATE TEMPORARY TABLE dfs.t.`scratch` AS select 1 as x")
    s.sql("CREATE TABLE dfs.t.`durable` AS select 2 as x")
    assert os.path.isdir(tmp_path / "scratch") and os.path.isdir(tmp_path / "durable")
    s.close()
    assert not os.path.exists(tmp_path / "scratch")
    assert os.path.isdir(tmp_path / "durable")


def test_sql_udf_registration(dsession):
    """Dynamic UDF surface (CreateFunctionHandler.java analog): SQL-
    bodied scalar and table functions register in-session, inline into
    codegen, and appear in sys.functions."""
    dsession.sql(
        "CREATE TEMPORARY FUNCTION add_tax_t(p DOUBLE) RETURNS DOUBLE RETURN p * 1.08"
    )
    assert dsession.sql("SELECT add_tax_t(100.0) AS v").collect()[0][0] == 108.0
    dsession.sql(
        "CREATE TEMPORARY FUNCTION till_t(n INT) RETURNS TABLE(x INT) "
        "RETURN SELECT explode(sequence(1, n))"
    )
    assert [r[0] for r in dsession.sql("SELECT * FROM till_t(3)").collect()] == [1, 2, 3]
    names = {r[0] for r in dsession.sql("select name from sys.functions").collect()}
    assert {"add_tax_t", "till_t"} <= names


def test_provided_schema_ddl(dsession, tmp_path):
    """CREATE SCHEMA ... FOR TABLE (SchemaHandler.java): persists a
    .drill.schema that later reads of the directory apply instead of
    inference; DROP SCHEMA removes it."""
    d = tmp_path / "csvdir"
    d.mkdir()
    (d / "a.csvh").write_text("1,alpha,2024-01-31\n2,beta,2024-02-29\n")
    dsession.register_workspace("dfs.sch", str(tmp_path), "csv")
    dsession.workspaces["dfs.sch"].writable = True
    dsession.sql(
        "CREATE SCHEMA (`id` INT, `name` VARCHAR, `seen` DATE) "
        "FOR TABLE dfs.sch.`csvdir`"
    )
    df = dsession.sql("select * from dfs.sch.`csvdir` where id = 2")
    assert [f.name for f in df.schema.fields] == ["id", "name", "seen"]
    row = df.collect()[0]
    assert row.name == "beta" and str(row.seen) == "2024-02-29"
    dsession.sql("DROP SCHEMA FOR TABLE dfs.sch.`csvdir`")
    import os as _os

    assert not _os.path.exists(d / ".drill.schema")


def test_sys_memory_and_threads(dsession):
    mem = dsession.sql("select * from sys.memory").collect()
    assert len(mem) == 1 and mem[0].heap_max > 0 and mem[0].heap_current > 0
    thr = dsession.sql("select * from sys.threads").collect()
    assert thr[0].total_threads > 0 and thr[0].busy_threads >= 0


def test_analyze_table_compute_statistics(dsession, tmp_path):
    """AnalyzeTableHandler.java: ANALYZE writes a .stats.drill artifact
    (rowcount + per-column ndv/null counts, DrillStatsTable shape) in
    one distributed aggregation pass; SAMPLE n PERCENT is honored."""
    import json as _json

    dsession.register_workspace("dfs.an", str(tmp_path), "parquet")
    dsession.workspaces["dfs.an"].writable = True
    dsession.sql(
        "CREATE TABLE dfs.an.`t` AS select s_suppkey, s_nationkey, "
        "case when s_suppkey % 10 = 0 then null else s_name end as c "
        "from dfs.`/root/testdata/sf0.001/supplier.parquet`"
    )
    out = dsession.sql("ANALYZE TABLE dfs.an.`t` COMPUTE STATISTICS").collect()[0]
    assert out.ok and out.rows == 10 and out.columns == 3
    with open(tmp_path / "t" / ".stats.drill") as f:
        stats = _json.load(f)
    assert stats["rowcount"] == 10
    by_col = {c["column"]: c for c in stats["columns"]}
    assert by_col["c"]["nullcount"] == 1  # only suppkey 10 nulls out
    assert by_col["s_suppkey"]["nonnullcount"] == 10
    assert 8 <= by_col["s_suppkey"]["ndv"] <= 12  # approx ndv
    # numeric columns carry equi-depth histogram boundaries
    # (DrillStatsTable/HistogramUtils shape); strings don't
    hist = by_col["s_suppkey"]["histogram"]
    assert hist["buckets"] == sorted(hist["buckets"])
    assert len(hist["buckets"]) == 11
    assert hist["buckets"][0] == 0.0 and hist["buckets"][-1] == 9.0
    assert "histogram" not in by_col["c"]
    sampled = dsession.sql(
        "ANALYZE TABLE dfs.an.`t` COMPUTE STATISTICS SAMPLE 50 PERCENT"
    ).collect()[0]
    assert 0 <= sampled.rows <= 10


def test_sql_delete_from_delta_and_iceberg(session, tmp_path):
    """DELETE FROM ws.`path` WHERE ... routes to the table-format
    row-level delete (delta DVs / iceberg position deletes); plain
    parquet raises with the CTAS guidance."""
    import pytest as _pytest

    from drill_spark.readers.delta import write_delta
    from drill_spark.readers.iceberg import write_iceberg

    spark = session.spark
    session.register_workspace("dfs.del", str(tmp_path), "parquet", writable=True)

    d_tbl = str(tmp_path / "d")
    write_delta(spark.range(20).withColumnRenamed("id", "v"), d_tbl)
    out = session.sql("DELETE FROM dfs.del.`d` WHERE v >= 15").collect()[0]
    assert out.ok and out.rows_deleted == 5
    assert session.sql("select count(*) as n from dfs.del.`d`").collect()[0].n == 15

    i_tbl = str(tmp_path / "i")
    write_iceberg(spark.range(12).withColumnRenamed("id", "k"), i_tbl)
    out = session.sql("DELETE FROM dfs.del.`i` WHERE k % 2 = 0").collect()[0]
    assert out.rows_deleted == 6
    assert session.sql("select count(*) as n from dfs.del.`i`").collect()[0].n == 6

    spark.range(3).write.parquet(str(tmp_path / "plain"))
    with _pytest.raises(NotImplementedError, match="CTAS"):
        session.sql("DELETE FROM dfs.del.`plain` WHERE id = 1")


def test_sql_optimize_and_vacuum(session, tmp_path):
    """OPTIMIZE compacts + purges DVs; VACUUM [RETAIN n HOURS] [DRY RUN]
    reports/removes orphans — the SQL face of the maintenance pair."""
    from drill_spark.readers.delta import write_delta

    spark = session.spark
    session.register_workspace("dfs.maint", str(tmp_path), "parquet", writable=True)
    tbl = str(tmp_path / "m")
    for i in range(2):
        write_delta(spark.range(i * 5, i * 5 + 5).withColumnRenamed("id", "v"),
                    tbl, mode="append" if i else "error")
    session.sql("DELETE FROM dfs.maint.`m` WHERE v = 2")

    out = session.sql("OPTIMIZE dfs.maint.`m`").collect()[0]
    assert out.ok and out.rewritten >= 2 and out.added >= 1

    dry = session.sql("VACUUM dfs.maint.`m` RETAIN 0 HOURS DRY RUN").collect()[0]
    assert dry.dry_run and dry.n_removed > 0
    real = session.sql("VACUUM dfs.maint.`m` RETAIN 0 HOURS").collect()[0]
    assert not real.dry_run and real.n_removed == dry.n_removed
    assert session.sql("select count(*) as n from dfs.maint.`m`").collect()[0].n == 9


def test_sql_merge_into(session, tmp_path):
    """MERGE INTO with subquery source: upsert semantics end to end."""
    from drill_spark.readers.delta import write_delta

    spark = session.spark
    session.register_workspace("dfs.mrg", str(tmp_path), "parquet", writable=True)
    tbl = str(tmp_path / "t")
    write_delta(spark.range(4).selectExpr("id as k", "cast(id as double) as amt"), tbl)
    spark.createDataFrame([(2, 20.0), (9, 90.0)], "k long, amt double") \
        .createOrReplaceTempView("cdc_batch")
    out = session.sql(
        "MERGE INTO dfs.mrg.`t` USING (select * from cdc_batch) AS src "
        "ON t.k = src.k "
        "WHEN MATCHED THEN UPDATE SET amt = src.amt "
        "WHEN NOT MATCHED THEN INSERT (k, amt) VALUES (src.k, src.amt)"
    ).collect()[0]
    assert (out.updated, out.inserted) == (1, 1)
    got = {r.k: r.amt for r in session.sql("select * from dfs.mrg.`t`").collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 20.0, 3: 3.0, 9: 90.0}


def test_sql_update_where_inside_string_literal(session, tmp_path):
    """The SET/WHERE split is quote-aware: a WHERE inside a string
    literal must not terminate the SET clause."""
    from drill_spark.readers.delta import write_delta

    spark = session.spark
    session.register_workspace("dfs.updq", str(tmp_path), "parquet", writable=True)
    tbl = str(tmp_path / "q")
    write_delta(spark.range(4).selectExpr("id as k", "'x' as note"), tbl)
    out = session.sql(
        "UPDATE dfs.updq.`q` SET note = 'keep WHERE clause' WHERE k = 2"
    ).collect()[0]
    assert out.rows_updated == 1
    notes = {r.k: r.note for r in session.sql("select * from dfs.updq.`q`").collect()}
    assert notes[2] == "keep WHERE clause" and notes[1] == "x"


def test_sql_restore_table(session, tmp_path):
    """RESTORE TABLE ... TO VERSION AS OF through the SQL face."""
    from pyspark.sql import functions as F

    from drill_spark.readers.delta import write_delta

    tbl = str(tmp_path / "restore_sql")
    write_delta(session.spark.range(6).select(F.col("id").alias("v")), tbl)
    write_delta(session.spark.range(6, 9).select(F.col("id").alias("v")),
                tbl, mode="append")
    session.register_workspace("rs", str(tmp_path), writable=True)
    out = session.sql("RESTORE TABLE rs.`restore_sql` TO VERSION AS OF 0").collect()
    assert out[0].restored_version == 0
    assert session.sql("select count(*) n from rs.`restore_sql`").collect()[0].n == 6


def test_sql_describe_history(session, tmp_path):
    """DESCRIBE HISTORY over both lakehouse formats: delta commits and
    iceberg snapshots as (version, timestamp_ms, operation) rows."""
    from pyspark.sql import functions as F

    from drill_spark.readers.delta import delete_where, write_delta
    from drill_spark.readers.iceberg import write_iceberg

    d = str(tmp_path / "hist_delta")
    write_delta(session.spark.range(5).select(F.col("id").alias("v")), d)
    delete_where(session.spark, d, "v = 0")
    i = str(tmp_path / "hist_ice")
    write_iceberg(session.spark.range(3).select(F.col("id").alias("k")), i)
    write_iceberg(session.spark.range(3, 5).select(F.col("id").alias("k")),
                  i, mode="append")
    session.register_workspace("hist", str(tmp_path), writable=True)

    dh = session.sql("DESCRIBE HISTORY hist.`hist_delta`").collect()
    assert [(r.version, r.operation) for r in dh] == [
        (0, "CREATE TABLE AS SELECT"), (1, "DELETE")]
    ih = session.sql("DESCRIBE HISTORY hist.`hist_ice`").collect()
    assert [(r.version, r.operation) for r in ih] == [
        (1, "append"), (2, "append")]


def test_refresh_table_metadata_cache(dsession, tmp_path):
    """REFRESH TABLE METADATA on a plain parquet dir writes the
    .drill.parquet_metadata cache (MetadataHandler analog); reads use
    the cached file list while fresh and fall back the moment any
    directory changes — never a stale list."""
    import os
    import time

    from drill_spark.readers.files import (
        METADATA_CACHE_FILE, load_parquet_metadata_cache,
    )

    root = str(tmp_path / "cached_tbl")
    spark = dsession.spark
    spark.range(100).selectExpr("id", "id % 3 as k").coalesce(2) \
         .write.parquet(root)
    dsession.register_workspace("dfs.cache", str(tmp_path))
    out = dsession.sql("REFRESH TABLE METADATA dfs.cache.`cached_tbl`").head()
    assert "metadata cache updated" in out["summary"]
    cache = load_parquet_metadata_cache(root)
    assert cache is not None and cache["total_rows"] == 100
    assert os.path.exists(os.path.join(root, METADATA_CACHE_FILE))

    # cached read returns the same data
    assert dsession.sql("select count(*) n from dfs.cache.`cached_tbl`") \
                   .head().n == 100

    # adding a file invalidates (dir mtime changes) — fresh data visible
    time.sleep(0.01)
    spark.range(100, 110).selectExpr("id", "id % 3 as k").coalesce(1) \
         .write.mode("append").parquet(root)
    assert load_parquet_metadata_cache(root) is None
    assert dsession.sql("select count(*) n from dfs.cache.`cached_tbl`") \
                   .head().n == 110
    # re-refresh re-validates
    dsession.sql("REFRESH TABLE METADATA dfs.cache.`cached_tbl`")
    c2 = load_parquet_metadata_cache(root)
    assert c2 is not None and c2["total_rows"] == 110


def test_metadata_cache_keeps_partition_columns(dsession, tmp_path):
    """A cached read of a hive-partitioned dir must still derive the
    partition columns (basePath on the explicit file list)."""
    root = str(tmp_path / "part_tbl")
    dsession.spark.range(60).selectExpr("id", "id % 3 as part") \
        .write.partitionBy("part").parquet(root)
    dsession.register_workspace("dfs.pcache", str(tmp_path))
    dsession.sql("REFRESH TABLE METADATA dfs.pcache.`part_tbl`")
    from drill_spark.readers.files import load_parquet_metadata_cache

    assert load_parquet_metadata_cache(root) is not None
    df = dsession.sql("select part, count(*) n from dfs.pcache.`part_tbl`"
                      " group by part order by part")
    assert [(r.part, r.n) for r in df.collect()] == [(0, 20), (1, 20), (2, 20)]


def test_metadata_cache_predicate_skipping(dsession, tmp_path):
    """With a fresh cache, `predicate =>` on a plain parquet dir prunes
    the file list from the cache's footer stats (no scan I/O on
    skipped files) and stays exact via the Catalyst backstop — the
    planning use Drill's .drill.parquet_metadata exists for."""
    from drill_spark.readers.files import (
        load_parquet_metadata_cache, prune_cached_files,
    )

    root = str(tmp_path / "skip_tbl")
    spark = dsession.spark
    spark.range(800).selectExpr("id", "id * 2 as v") \
        .repartitionByRange(8, "id").sortWithinPartitions("id") \
        .write.parquet(root)
    dsession.register_workspace("dfs.skip", str(tmp_path))
    dsession.sql("REFRESH TABLE METADATA dfs.skip.`skip_tbl`")
    cache = load_parquet_metadata_cache(root)
    assert cache is not None and len(cache["stats"]) == 8
    kept = prune_cached_files(cache, "id >= 100 and id < 200")
    assert 1 <= len(kept) <= 2
    got = dsession.sql(
        "select id from table(dfs.skip.`skip_tbl`("
        "type => 'parquet', predicate => 'id >= 100 and id < 200'))")
    assert sorted(r.id for r in got.collect()) == list(range(100, 200))
    assert len(set(got.inputFiles())) <= 2
    # everything pruned: typed empty result, no error
    got0 = dsession.sql(
        "select id from table(dfs.skip.`skip_tbl`("
        "type => 'parquet', predicate => 'id > 100000'))")
    assert got0.count() == 0
    # hive partition dirs prune from the path values alone
    proot = str(tmp_path / "skip_part")
    spark.range(60).selectExpr("id", "id % 3 as part") \
        .write.partitionBy("part").parquet(proot)
    dsession.sql("REFRESH TABLE METADATA dfs.skip.`skip_part`")
    gp = dsession.sql(
        "select id, part from table(dfs.skip.`skip_part`("
        "type => 'parquet', predicate => 'part = 1'))")
    rows = gp.collect()
    assert len(rows) == 20 and all(r.part == 1 for r in rows)
    assert all("part=1" in f for f in gp.inputFiles())


def test_show_tables_in_workspace(dsession):
    """SHOW TABLES FROM a file workspace (ShowTablesHandler): files
    and directories list as (TABLE_SCHEMA, TABLE_NAME), metadata
    entries hidden."""
    rows = dsession.sql("SHOW TABLES FROM dfs.data").collect()
    names = {r.TABLE_NAME for r in rows}
    assert {"people.json", "pipes.psv"} <= names
    assert all(r.TABLE_SCHEMA == "dfs.data" for r in rows)


def test_parquet_compression_option(dsession, tmp_path):
    """ALTER SESSION SET store.parquet.compression routes to Spark's
    writer codec; CTAS honors it."""
    import glob
    import os

    dsession.register_workspace("dfs.gzw", str(tmp_path), "parquet")
    dsession.workspaces["dfs.gzw"].writable = True
    dsession.sql("ALTER SESSION SET `store.parquet.compression` = 'gzip'")
    try:
        assert dsession.spark.conf.get(
            "spark.sql.parquet.compression.codec") == "gzip"
        dsession.sql("CREATE TABLE dfs.gzw.`gz_t` AS select 1 as x")
        assert glob.glob(os.path.join(str(tmp_path), "gz_t", "*.gz.parquet"))
    finally:
        dsession.sql("ALTER SESSION SET `store.parquet.compression` = 'snappy'")
        dsession.sql("DROP TABLE IF EXISTS dfs.gzw.`gz_t`")


def test_pipeline_table_functions(dsession):
    """SQL face for the pipeline operators: TABLE(pipeline.`op`(...))
    runs the ops/ builder at rewrite time (same mechanism as format
    table functions) and composes with plain SQL around it."""
    dsession.register_fixture_tables("/root/testdata/sf0.001")
    top = dsession.sql(
        "select * from table(pipeline.`bm25`("
        "input => 'documents', query => 'spark vector', k => '5'))"
    ).collect()
    assert len(top) == 5
    assert top[0].score >= top[-1].score

    splits = dsession.sql(
        "select split, count(*) n from table(pipeline.`group_split`("
        "input => 'documents', group => 'md5(text)')) group by 1"
    ).collect()
    assert {r.split for r in splits} <= {"train", "val", "test"}
    assert sum(r.n for r in splits) == 500

    fused = dsession.sql(
        "select * from table(pipeline.`hybrid_search`(docs => 'documents',"
        " vecs => 'embeddings', query => 'spark vector', vec_id => '0',"
        " k => '5', pool => '20'))"
    ).collect()
    assert len(fused) == 5

    import pytest as _pytest
    with _pytest.raises(Exception, match="unknown pipeline"):
        dsession.sql("select * from table(pipeline.`nope`(input => 'documents'))")


def test_pipeline_table_functions_round8(dsession):
    """SQL faces for the round-8 operators compose with plain SQL."""
    dsession.register_fixture_tables("/root/testdata/sf0.001")
    kept = dsession.sql(
        "select count(*) n, sum(cast(keep as int)) kept from "
        "table(pipeline.`gopher_quality`(input => 'documents'))"
    ).collect()[0]
    assert kept.n == 500

    dom = dsession.sql(
        "select dominant, count(*) n from "
        "table(pipeline.`script_profile`(input => 'documents')) group by 1"
    ).collect()
    assert {r.dominant for r in dom} == {"latin"}

    skew = dsession.sql(
        "select * from table(pipeline.`skew_profile`("
        "input => 'documents', key => 'source', top => '3'))"
    ).collect()
    assert len(skew) == 3 and skew[0].cnt >= skew[-1].cnt

    fk = dsession.sql(
        "select lang, count(*) n from table(pipeline.`fixed_k_sample`("
        "input => 'documents', strata => 'lang', id => 'doc_id',"
        " k => '7')) group by 1"
    ).collect()
    assert all(r.n <= 7 for r in fk)

    c4 = dsession.sql(
        "select count(*) n from table(pipeline.`c4_clean`("
        "input => 'documents'))"
    ).collect()[0]
    assert c4.n == 500


def test_pipeline_table_functions_round8b(dsession):
    """SQL faces for the second round-8 operator batch."""
    dsession.register_fixture_tables("/root/testdata/sf0.001")

    sess = dsession.sql(
        "select count(*) n from table(pipeline.`sessionize`("
        "input => 'events', gap_seconds => '3600', order => 'event_id'))"
    ).collect()[0]
    assert sess.n > 0

    fun = dsession.sql(
        "select * from table(pipeline.`funnel`(input => 'events', "
        "steps => 'view,click,purchase', within_seconds => '86400')) "
        "order by step_idx"
    ).collect()
    assert [r.step for r in fun] == ["view", "click", "purchase"]
    assert fun[0].n_keys >= fun[1].n_keys >= fun[2].n_keys

    ret = dsession.sql(
        "select sum(n_keys) total from table(pipeline.`retention`("
        "input => 'events')) where offset = 0"
    ).collect()[0]
    assert ret.total > 0

    ts = dsession.sql(
        "select count(*) n from table(pipeline.`temperature_sample`("
        "input => 'documents', strata => 'lang', alpha => '0.5'))"
    ).collect()[0]
    assert 0 < ts.n < 500

    ws = dsession.sql(
        "select count(*) n from table(pipeline.`weighted_sample`("
        "input => 'documents', weight => 'n_chars', k => '50'))"
    ).collect()[0]
    assert ws.n == 50

    luhn = dsession.sql(
        "select sum(n_card) c from table(pipeline.`luhn_scan`("
        "input => 'documents'))"
    ).collect()[0]
    assert luhn.c == 0  # fixture text has no valid PANs

    nfc = dsession.sql(
        "select count(*) n from table(pipeline.`normalize_unicode`("
        "input => 'documents')) where changed"
    ).collect()[0]
    assert nfc.n == 0  # fixture text is ASCII

    ms = dsession.sql(
        "select * from table(pipeline.`maxsim`("
        "input => 'documents', query => 'query join fast', k => '5'))"
    ).collect()
    assert len(ms) == 5 and ms[0].rank == 1


def test_pipeline_table_functions_monitoring(dsession):
    dsession.register_fixture_tables("/root/testdata/sf0.001")
    mad = dsession.sql(
        "select count(*) n from table(pipeline.`mad_outliers`("
        "input => 'events', key => 'user_id', val => 'value', k => '3'))"
    ).collect()[0]
    assert mad.n >= 0
    sh = dsession.sql(
        "select count(distinct shard) s, count(*) n from "
        "table(pipeline.`training_shards`(input => 'documents', "
        "shards => '4'))"
    ).collect()[0]
    assert sh.s == 4 and sh.n == 500


def test_incremental_matview_refresh(dsession, tmp_path):
    """REFRESH MATERIALIZED VIEW maintains an aggregate MV from only
    the APPENDED parquet files (delta scan + decomposable-agg merge);
    results equal a full recompute, the status says which path ran,
    and file deletion falls back to full."""
    import shutil

    spark = dsession.spark
    dsession.workspaces["dfs.tmp"].path = str(tmp_path)
    src = tmp_path / "sales"
    rows1 = [(i, "a" if i % 2 == 0 else "b", float(i)) for i in range(100)]
    spark.createDataFrame(rows1, "id bigint, grp string, amt double") \
        .coalesce(1).write.parquet(str(src))

    dsession.sql(
        "CREATE MATERIALIZED VIEW mv_sales AS "
        f"select grp, count(*) as n, sum(amt) as total, min(amt) as lo, "
        f"max(amt) as hi from dfs.tmp.`sales` group by grp")

    # append a second file with new and existing groups
    rows2 = [(i, "b" if i % 2 == 0 else "c", float(i)) for i in range(100, 160)]
    spark.createDataFrame(rows2, "id bigint, grp string, amt double") \
        .coalesce(1).write.mode("append").parquet(str(src))

    out = dsession.sql("REFRESH MATERIALIZED VIEW mv_sales").head()
    assert "incrementally" in out["summary"], out["summary"]
    assert "1 new file(s)" in out["summary"]

    got = {r["grp"]: r for r in dsession.sql(
        "select * from mv_sales").collect()}
    allrows = rows1 + rows2
    for g in ("a", "b", "c"):
        sub = [a for _, gg, a in allrows if gg == g]
        assert got[g]["n"] == len(sub)
        assert abs(got[g]["total"] - sum(sub)) < 1e-6
        assert got[g]["lo"] == min(sub) and got[g]["hi"] == max(sub)

    # idempotent when nothing changed
    out = dsession.sql("REFRESH MATERIALIZED VIEW mv_sales").head()
    assert "up to date" in out["summary"]

    # FULL forces recompute
    out = dsession.sql("REFRESH MATERIALIZED VIEW mv_sales FULL").head()
    assert "(full)" in out["summary"]

    # deleting a source file breaks append-only -> full fallback
    a_file = next(p for p in src.iterdir() if p.name.endswith(".parquet"))
    a_file.unlink()
    spark.catalog.refreshByPath(str(src))
    out = dsession.sql("REFRESH MATERIALIZED VIEW mv_sales").head()
    assert "full: source files" in out["summary"]
    dsession.sql("DROP MATERIALIZED VIEW mv_sales")


def test_incremental_matview_gates_non_decomposable(dsession, tmp_path):
    """AVG / COUNT(DISTINCT) definitions stay full-recompute-only."""
    spark = dsession.spark
    dsession.workspaces["dfs.tmp"].path = str(tmp_path)
    src = tmp_path / "m"
    spark.createDataFrame(
        [(1, 2.0)], "id bigint, v double").write.parquet(str(src))
    dsession.sql(
        "CREATE MATERIALIZED VIEW mv_avg AS "
        "select id, avg(v) as m from dfs.tmp.`m` group by id")
    out = dsession.sql("REFRESH MATERIALIZED VIEW mv_avg").head()
    assert "(full)" in out["summary"]
    dsession.sql("DROP MATERIALIZED VIEW mv_avg")


def test_incremental_matview_rejects_join_sources(dsession, tmp_path):
    """A join-source MV must NOT take the incremental path: merging raw
    appended fact rows without replaying the join would corrupt the MV
    (an appended row with no dim match must stay invisible)."""
    spark = dsession.spark
    dsession.workspaces["dfs.tmp"].path = str(tmp_path)
    spark.createDataFrame(
        [(1, "a", 2.0), (2, "b", 3.0)], "id bigint, grp string, amt double"
    ).coalesce(1).write.parquet(str(tmp_path / "facts"))
    spark.createDataFrame(
        [("a",), ("b",)], "g string"
    ).coalesce(1).write.parquet(str(tmp_path / "dims"))
    dsession.sql(
        "CREATE MATERIALIZED VIEW mv_j AS "
        "select grp, count(*) as n from dfs.tmp.`facts` t "
        "join dfs.tmp.`dims` d on t.grp = d.g group by grp")
    # append a fact with NO dim match
    spark.createDataFrame(
        [(3, "c", 4.0)], "id bigint, grp string, amt double"
    ).coalesce(1).write.mode("append").parquet(str(tmp_path / "facts"))
    out = dsession.sql("REFRESH MATERIALIZED VIEW mv_j").head()
    assert "(full)" in out["summary"], out["summary"]
    got = {r["grp"] for r in dsession.sql("select * from mv_j").collect()}
    assert got == {"a", "b"}  # 'c' must not leak in
    dsession.sql("DROP MATERIALIZED VIEW mv_j")


def test_pipeline_table_functions_crossmodal(dsession):
    import numpy as np

    from drill_spark.ops.multimodal import encode_bmp

    spark = dsession.spark
    colors = [(0, (255, 0, 0)), (1, (0, 255, 0)), (2, (0, 0, 255))]
    spark.createDataFrame(
        [(i, bytearray(encode_bmp(np.full((8, 8, 3), c, np.uint8))))
         for i, c in colors],
        "doc_id long, payload binary").createOrReplaceTempView("imgs")
    spark.createDataFrame(
        [(i, "tile colored rgb(%d, %d, %d)" % c) for i, c in colors],
        "doc_id long, text string").createOrReplaceTempView("caps")
    top = dsession.sql(
        "select * from table(pipeline.`crossmodal_topk`("
        "images => 'imgs', captions => 'caps', k => '1'))").collect()
    assert all(r.neighbor_id == r.query_id for r in top)
    kept = dsession.sql(
        "select count(*) n from table(pipeline.`crossmodal_align`("
        "images => 'imgs', captions => 'caps', threshold => '0.99'))"
    ).collect()[0]
    assert kept.n == 3


def test_pipeline_html_extract_sql_face(dsession):
    dsession.register_fixture_tables("/root/testdata/sf0.001")
    dsession.sql(
        "create or replace temporary view _pages as "
        "select doc_id, '<html><title>t' || doc_id || '</title><body><p>' "
        "|| text || '</p></body></html>' as html from documents"
    )
    rows = dsession.sql(
        "select count(*) n, count(distinct title) t from "
        "table(pipeline.`html_extract`(input => '_pages'))"
    ).collect()[0]
    assert rows.n == 500 and rows.t == 500


def test_matview_aggregate_rollup_rewrite(dsession):
    """MV aggregate-rollup rewrite (docs/dev/MaterializedViews.md
    'Aggregate Rollup'): a coarser GROUP BY over the same source is
    answered by re-aggregating the materialization; plan scans the MV
    parquet, answers match recompute exactly, and the session option
    disables the rewrite."""
    dsession.register_fixture_tables("/root/testdata/sf0.001")
    dsession.sql(
        "create or replace materialized view mv_cust as "
        "select c_nationkey, c_mktsegment, count(*) as cnt, "
        "sum(c_acctbal) as bal, min(c_acctbal) as lo, "
        "max(c_acctbal) as hi from customer "
        "group by c_nationkey, c_mktsegment"
    )
    q = ("select c_nationkey, count(*) as cnt, sum(c_acctbal) as bal, "
         "min(c_acctbal) as lo, max(c_acctbal) as hi "
         "from customer group by c_nationkey")
    got = dsession.sql(q)
    # the rewrite scans the materialization, not the base table
    assert all("_materialized" in f for f in got.inputFiles())
    # double sums re-associate in the rollup (partials per mktsegment
    # summed again) -> last-ulp drift; compare at 6 decimals
    rows = {r.c_nationkey: (r.cnt, round(r.bal, 6), float(r.lo),
                            float(r.hi)) for r in got.collect()}
    dsession.set_option("planner.enable_materialized_view_rewrite", "false")
    try:
        base = dsession.sql(q)
        assert not any("_materialized" in f for f in base.inputFiles())
        want = {r.c_nationkey: (r.cnt, round(r.bal, 6), float(r.lo),
                                float(r.hi)) for r in base.collect()}
    finally:
        dsession.set_option("planner.enable_materialized_view_rewrite",
                            "true")
    assert rows == want
    # same names and types; nullability may differ (count(*) is
    # non-nullable, the rollup's SUM-of-counts is nullable)
    assert [(f.name, f.dataType) for f in got.schema.fields] == \
        [(f.name, f.dataType) for f in base.schema.fields]


def test_matview_rollup_avg_and_where(dsession):
    """AVG rolls up via SUM(sum)/SUM(count); a WHERE on MV group
    columns filters the materialization; a WHERE on a non-group column
    disqualifies the rewrite."""
    dsession.register_fixture_tables("/root/testdata/sf0.001")
    dsession.sql(
        "create or replace materialized view mv_ord as "
        "select o_orderstatus, o_orderpriority, count(o_totalprice) as c, "
        "sum(o_totalprice) as s from orders "
        "group by o_orderstatus, o_orderpriority"
    )
    q = ("select o_orderstatus, avg(o_totalprice) as avg_price "
         "from orders where o_orderpriority = '1-URGENT' "
         "group by o_orderstatus")
    got = dsession.sql(q)
    assert all("_materialized" in f for f in got.inputFiles())
    dsession.set_option("planner.enable_materialized_view_rewrite", "false")
    try:
        want = {r.o_orderstatus: round(r.avg_price, 6)
                for r in dsession.sql(q).collect()}
    finally:
        dsession.set_option("planner.enable_materialized_view_rewrite",
                            "true")
    assert {r.o_orderstatus: round(r.avg_price, 6)
            for r in got.collect()} == want
    # non-group-column predicate: no rewrite (MV lost that column)
    q2 = ("select o_orderstatus, count(o_totalprice) as c from orders "
          "where o_totalprice > 1000 group by o_orderstatus")
    assert not any("_materialized" in f
                   for f in dsession.sql(q2).inputFiles())


def test_matview_rollup_disqualifiers(dsession):
    """No rewrite when aggregates aren't derivable (different arg, agg
    kind the MV lacks) or the group set isn't a subset."""
    dsession.register_fixture_tables("/root/testdata/sf0.001")
    dsession.sql(
        "create or replace materialized view mv_sup as "
        "select s_nationkey, count(*) as c from supplier "
        "group by s_nationkey"
    )

    def uses_mv(q):
        return any("_materialized" in f for f in dsession.sql(q).inputFiles())

    assert not uses_mv(
        "select s_nationkey, sum(s_acctbal) as s from supplier "
        "group by s_nationkey")  # MV has no sum(s_acctbal)
    assert not uses_mv(
        "select s_suppkey, count(*) as c from supplier "
        "group by s_suppkey")  # finer group than the MV
    # global aggregate (no GROUP BY): the shape regex requires a
    # GROUP BY, so the rewrite conservatively stands down
    assert not uses_mv("select count(*) as c from supplier")


def test_sys_boot_internal_options_profiles_json(dsession):
    """The remaining SystemTable.java tables: boot, internal_options,
    profiles_json, and the reference's alias table names."""
    import json as _json

    boot = {r.name: r.val for r in
            dsession.sql("select * from sys.boot").collect()}
    assert boot["spark.master"].startswith("local")
    assert "java.version" in boot and "python.version" in boot

    io_rows = dsession.sql(
        "select * from sys.internal_options").collect()
    assert io_rows and all(not r.name.startswith("spark.sql")
                           for r in io_rows)
    assert {"name", "kind", "accessibleScopes", "val", "optionScope"} <= \
        set(io_rows[0].asDict())

    dsession.sql("select 1 as probe_q")
    pj = dsession.sql(
        "select * from sys.profiles_json order by cast(queryId as int)"
    ).collect()
    assert pj
    doc = _json.loads(pj[-1].json)
    assert "query" in doc

    assert dsession.sql(
        "select count(*) as n from sys.storage_aliases").collect()[0].n == 0
    cols = set(dsession.sql(
        "select * from sys.table_aliases").columns)
    assert {"alias", "name", "user", "isPublic"} <= cols


def test_explain_shows_matview_rewrite(dsession):
    dsession.register_fixture_tables("/root/testdata/sf0.001")
    dsession.sql(
        "create or replace materialized view mv_reg as "
        "select r_regionkey, count(*) as c from region group by r_regionkey"
    )
    plan = dsession.sql(
        "explain plan for select r_regionkey, count(*) as c "
        "from region group by r_regionkey"
    ).collect()[0].plan
    # the explained tree scans the MV relation (Spark may truncate the
    # FileScan path string, so assert on the relation name)
    assert "[mv_reg]" in plan


def test_pipeline_heavy_hitters_sql_face(dsession):
    dsession.register_fixture_tables("/root/testdata/sf0.001")
    dsession.sql(
        "create or replace temporary view _vals as "
        "select case when doc_id % 2 = 0 then 'big' "
        "else 'tail-' || doc_id end as value from documents"
    )
    rows = dsession.sql(
        "select * from table(pipeline.`heavy_hitters`("
        "input => '_vals', col => 'value', k => '3'))"
    ).collect()
    assert [(r.value, r.cnt) for r in rows] == [("big", 250)]


def test_pipeline_pagerank_sql_face(dsession):
    dsession.register_fixture_tables("/root/testdata/sf0.001")
    dsession.sql(
        "create or replace temporary view _edges as "
        "select doc_id as src, (doc_id + 1) % 500 as dst from documents"
    )
    rows = dsession.sql(
        "select count(*) n, round(sum(rank), 4) s from "
        "table(pipeline.`pagerank`(input => '_edges', "
        "iterations => '5'))"
    ).collect()[0]
    assert rows.n == 500 and abs(rows.s - 1.0) < 1e-3


def test_pipeline_robots_filter_sql_face(dsession, spark):
    spark.createDataFrame(
        [("a.example", "User-agent: *\nDisallow: /no/")],
        "domain string, robots string",
    ).createOrReplaceTempView("_robots_txt")
    spark.createDataFrame(
        [("https://a.example/no/x",), ("https://a.example/yes/y",)],
        "url string",
    ).createOrReplaceTempView("_crawl_urls")
    got = {r.url: r.allowed for r in dsession.sql(
        "select url, allowed from table(pipeline.`robots_filter`("
        "input => '_crawl_urls', rules => '_robots_txt', "
        "rules_are_text => 'true'))"
    ).collect()}
    assert got == {"https://a.example/no/x": False,
                   "https://a.example/yes/y": True}


def test_sys_materialized_views_and_vector_indexes(dsession):
    dsession.register_fixture_tables("/root/testdata/sf0.001")
    dsession.sql(
        "create or replace materialized view mv_sysv as "
        "select r_regionkey, count(*) as c from region group by r_regionkey")
    mv = {r.name: r for r in dsession.sql(
        "select * from sys.materialized_views").collect()}
    assert "mv_sysv" in mv and mv["mv_sysv"].incremental
    assert mv["mv_sysv"].rows == 5
    dsession.sql(
        "create or replace temporary view _vsrc as "
        "select vec_id, embedding from embeddings where vec_id < 64")
    dsession.sql("create or replace vector index vsys on _vsrc (embedding) "
                 "with (cells => 2, m => 2, codes => 4)")
    vi = {r.name: r for r in dsession.sql(
        "select * from sys.vector_indexes").collect()}
    assert "vsys" in vi and vi["vsys"].n_cells == 2 and vi["vsys"].rows == 64
    dsession.sql("drop vector index vsys")


def test_pipeline_table_functions_round9(dsession):
    """SQL faces for the round-9 operators compose with plain SQL."""
    dsession.register_fixture_tables("/root/testdata/sf0.001")
    mix = dsession.sql(
        "select source, count(*) n, max(epoch) me from "
        "table(pipeline.`mixture_build`(input => 'documents', "
        "weights => 'src0:0.6,src1:0.4', budget => '50000')) group by 1"
    ).collect()
    assert {r.source for r in mix} == {"src0", "src1"}

    shuf = dsession.sql(
        "select count(*) n, count(distinct shard) s from "
        "table(pipeline.`epoch_shuffle`(input => 'documents', "
        "epoch => '3', shards => '8'))"
    ).collect()[0]
    assert shuf.n == 500 and shuf.s == 8

    kd = dsession.sql(
        "select * from table(pipeline.`kmv_distinct`("
        "input => 'documents', seg => 'lang', item => 'text', k => '8'))"
    ).collect()
    assert kd and all(r.est_distinct > 0 for r in kd)

    roll = dsession.sql(
        "select * from table(pipeline.`rolling_distinct`("
        "input => 'events', item => 'user_id', k => '16', days => '3'))"
    ).collect()
    assert roll and all(r.est_rolling >= r.est_day - 1e-9 for r in roll)

    diff = dsession.sql(
        "select status, count(*) n from table(pipeline.`snapshot_diff`("
        "old => 'documents', new => 'documents')) group by 1"
    ).collect()
    assert diff == []  # identical snapshots -> empty diff


def test_pipeline_table_function_rolling_quantiles(dsession):
    dsession.register_fixture_tables("/root/testdata/sf0.001")
    rq = dsession.sql(
        "select * from table(pipeline.`rolling_quantiles`("
        "input => 'events', val => 'value', hi => '500', days => '3'))"
    ).collect()
    assert rq and all(r.q50 <= r.q95 for r in rq)


def test_pipeline_table_function_skew_ops(dsession):
    """SQL faces for the r10 skew auto-path: skew_join routes through
    auto_skew_join and equals the plain SQL join; topk_per_key's
    per-key top-k VALUE multiset equals the plain window's (values at a
    tie boundary are equal by definition, so the comparison is
    tie-robust)."""
    dsession.register_fixture_tables("/root/testdata/sf0.001")
    # the face joins on same-name columns: align supplier's key first
    dsession.sql(
        "create or replace view supp_aligned as "
        "select s_suppkey as l_suppkey, s_name from supplier")
    got = dsession.sql(
        "select s_name, count(*) n from table(pipeline.`skew_join`("
        "hot => 'lineitem', small => 'supp_aligned', on => 'l_suppkey'))"
        " group by 1"
    ).collect()
    plain = dsession.sql(
        "select s_name, count(*) n from lineitem join supplier "
        "on l_suppkey = s_suppkey group by 1"
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, plain))

    tk = dsession.sql(
        "select o_custkey, o_totalprice from table(pipeline.`topk_per_key`("
        "input => 'orders', keys => 'o_custkey', order => 'o_totalprice',"
        " k => '2'))"
    ).collect()
    plain_tk = dsession.sql(
        "select o_custkey, o_totalprice from ("
        "  select o_custkey, o_totalprice,"
        "         row_number() over (partition by o_custkey"
        "                            order by o_totalprice desc) as r"
        "  from orders) where r <= 2"
    ).collect()
    assert sorted(map(tuple, tk)) == sorted(map(tuple, plain_tk))


def test_pipeline_table_function_setsim_join(dsession):
    """SQL face for the exact set-similarity join: routes through
    ops.fuzzy.setsim_join and equals the library call."""
    from drill_spark.ops.fuzzy import setsim_join

    dsession.register_fixture_tables("/root/testdata/sf0.001")
    dsession.sql(
        "create or replace view ss_docs as "
        "select doc_id, text from documents where doc_id < 40")
    got = dsession.sql(
        "select * from table(pipeline.`setsim_join`("
        "input => 'ss_docs', threshold => '0.2'))"
    ).collect()
    lib = setsim_join(
        dsession.sql("select * from ss_docs"), threshold=0.2).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, lib))


def test_pipeline_table_function_containment_join(dsession):
    """SQL face for containment search: routes through
    ops.fuzzy.containment_join and equals the library call."""
    from drill_spark.ops.fuzzy import containment_join

    dsession.register_fixture_tables("/root/testdata/sf0.001")
    dsession.sql(
        "create or replace view cj_probe as "
        "select doc_id - 480 as qid, substring(text, 1, 60) as qtext "
        "from documents where doc_id >= 480")
    dsession.sql(
        "create or replace view cj_corpus as "
        "select doc_id, text from documents where doc_id < 480")
    got = dsession.sql(
        "select * from table(pipeline.`containment_join`("
        "probe => 'cj_probe', corpus => 'cj_corpus', threshold => '0.7'))"
    ).collect()
    lib = containment_join(
        dsession.sql("select * from cj_probe"),
        dsession.sql("select * from cj_corpus"),
        threshold=0.7).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, lib)) and got


def test_pipeline_table_function_setsim_tables(dsession):
    """SQL face for the cross-table exact similarity join."""
    from drill_spark.ops.fuzzy import setsim_join_tables

    dsession.register_fixture_tables("/root/testdata/sf0.001")
    dsession.sql(
        "create or replace view st_old as "
        "select doc_id as id_a, text as text_a from documents "
        "where doc_id < 250")
    dsession.sql(
        "create or replace view st_new as "
        "select doc_id as id_b, text as text_b from documents "
        "where doc_id >= 250")
    got = dsession.sql(
        "select * from table(pipeline.`setsim_tables`("
        "left => 'st_old', right => 'st_new', threshold => '0.8'))"
    ).collect()
    lib = setsim_join_tables(
        dsession.sql("select * from st_old"),
        dsession.sql("select * from st_new"), threshold=0.8).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, lib)) and got


def test_pipeline_table_function_substr_dedup(dsession):
    """SQL face for ExactSubstr dedup + the spans report: both route
    through ops.substr and equal the library calls."""
    from drill_spark.ops.substr import substr_dedup, substr_duplicate_spans

    dsession.register_fixture_tables("/root/testdata/sf0.001")
    dsession.sql(
        "create or replace view sd_docs as "
        "select doc_id, text from documents where doc_id < 40")
    got = dsession.sql(
        "select * from table(pipeline.`substr_dedup`("
        "input => 'sd_docs', min_tokens => '6'))"
    ).collect()
    lib = substr_dedup(
        dsession.sql("select * from sd_docs"), min_tokens=6).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, lib)) and got

    got_sp = dsession.sql(
        "select * from table(pipeline.`substr_spans`("
        "input => 'sd_docs', min_tokens => '6'))"
    ).collect()
    lib_sp = substr_duplicate_spans(
        dsession.sql("select * from sd_docs"), min_tokens=6).collect()
    assert sorted(map(tuple, got_sp)) == sorted(map(tuple, lib_sp))


def test_pipeline_table_function_substr_decontaminate(dsession):
    """SQL face for verbatim decontamination."""
    from drill_spark.ops.substr import substr_decontaminate

    dsession.register_fixture_tables("/root/testdata/sf0.001")
    dsession.sql(
        "create or replace view sdc_corpus as "
        "select doc_id, text from documents where doc_id < 40")
    dsession.sql(
        "create or replace view sdc_bench as "
        "select doc_id - 45 as bench_id, substring(text, 1, 80) as text "
        "from documents where doc_id >= 45 and doc_id < 50")
    got = dsession.sql(
        "select * from table(pipeline.`substr_decontaminate`("
        "corpus => 'sdc_corpus', benchmark => 'sdc_bench', "
        "min_tokens => '4'))"
    ).collect()
    lib = substr_decontaminate(
        dsession.sql("select * from sdc_corpus"),
        dsession.sql("select * from sdc_bench"),
        min_tokens=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, lib)) and got


def test_alter_session_parquet_writer_knobs(dsession, tmp_path):
    """Drill's parquet writer session options (ExecConstants
    PARQUET_BLOCK_SIZE / PARQUET_WRITER_ENABLE_DICTIONARY_ENCODING)
    route into parquet-mr's hadoop conf and take effect on the next
    CTAS: a tiny block size splits one write into multiple row
    groups, and disabling dictionary encoding drops the dictionary
    page from the column chunks."""
    import pyarrow.parquet as pq

    dsession.register_fixture_tables("/root/testdata/sf0.001")
    dsession.sql("create or replace view pw_src as "
                 "select l_orderkey, l_returnflag, "
                 "cast(l_extendedprice as string) as s from lineitem")
    ws = str(tmp_path)
    dsession.register_workspace("pwtest", ws, "parquet", writable=True)

    # default: one row group
    dsession.sql("create table pwtest.`one` as select * from pw_src")
    meta1 = pq.ParquetFile(
        next(__import__("glob").iglob(f"{ws}/one/*.parquet"))).metadata
    assert meta1.num_row_groups == 1

    dsession.sql("alter session set `store.parquet.block-size` = 4096")
    dsession.sql("create table pwtest.`many` as select * from pw_src")
    meta2 = pq.ParquetFile(
        next(__import__("glob").iglob(f"{ws}/many/*.parquet"))).metadata
    assert meta2.num_row_groups > 1

    dsession.sql("alter session set "
                 "`store.parquet.enable_dictionary_encoding` = false")
    dsession.sql("create table pwtest.`nodict` as select * from pw_src")
    meta3 = pq.ParquetFile(
        next(__import__("glob").iglob(f"{ws}/nodict/*.parquet"))).metadata
    encs = {e for i in range(meta3.num_row_groups)
            for c in range(meta3.num_columns)
            for e in meta3.row_group(i).column(c).encodings}
    assert "PLAIN_DICTIONARY" not in encs and "RLE_DICTIONARY" not in encs
    # restore defaults for other tests sharing the session
    dsession.sql("alter session set `store.parquet.block-size` = 134217728")
    dsession.sql("alter session set "
                 "`store.parquet.enable_dictionary_encoding` = true")


def test_alter_session_reset_restores_hadoop_conf(spark):
    """The parquet writer knobs live in the SparkContext-GLOBAL hadoop
    conf, so Drill's session-scoped semantics require RESET (and
    session close) to restore the pre-SET value instead of leaking the
    session's value to every other DrillSession (ADVICE r11)."""
    from drill_spark.session import DrillSession

    hc = spark.sparkContext._jsc.hadoopConfiguration()
    prior = hc.get("parquet.block.size")

    s1 = DrillSession(spark=spark)
    s1.sql("alter session set `store.parquet.block-size` = 4096")
    assert hc.get("parquet.block.size") == "4096"
    assert s1.get_option("store.parquet.block-size") == "4096"
    s1.sql("alter session reset `store.parquet.block-size`")
    assert hc.get("parquet.block.size") == prior
    assert s1.get_option("store.parquet.block-size") is None

    # close() restores too, even without an explicit RESET
    s2 = DrillSession(spark=spark)
    s2.sql("alter session set `store.parquet.block-size` = 8192")
    assert hc.get("parquet.block.size") == "8192"
    s2.close()
    assert hc.get("parquet.block.size") == prior


def test_pipeline_table_function_r12_faces(dsession):
    """SQL faces added in r12: digest-mode substr_dedup, the curation
    drop ledger, classifier metrics, the stratified weighted sampler,
    and the tokenizer-true mixture — each equals its library call."""
    from drill_spark.ops.mlmetrics import binary_auc, calibration_bins
    from drill_spark.ops.pipeline import (
        curation_audit,
        stratified_weighted_sample,
    )
    from drill_spark.ops.substr import substr_dedup

    dsession.register_fixture_tables("/root/testdata/sf0.001")
    dsession.sql("create or replace view r12_docs as "
                 "select doc_id, text, source, lang from documents "
                 "where doc_id < 60")
    docs = dsession.sql("select * from r12_docs")

    got = dsession.sql(
        "select * from table(pipeline.`substr_dedup`("
        "input => 'r12_docs', min_tokens => '6', detect => 'digest'))"
    ).collect()
    lib = substr_dedup(docs, min_tokens=6, detect="digest").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, lib)) and got

    dsession.sql("create or replace view r12_corpus as "
                 "select * from r12_docs where doc_id % 10 <> 0")
    dsession.sql("create or replace view r12_bench as "
                 "select * from r12_docs where doc_id % 10 = 0")
    got_a = dsession.sql(
        "select * from table(pipeline.`curation_audit`("
        "corpus => 'r12_corpus', benchmark => 'r12_bench', "
        "weights => 'src0:0.5,src1:0.5', budget => '50000'))").collect()
    lib_a = curation_audit(
        dsession.sql("select * from r12_corpus"),
        dsession.sql("select * from r12_bench"),
        "doc_id", "text", "source", {"src0": 0.5, "src1": 0.5},
        token_budget=50_000).collect()
    assert sorted(map(tuple, got_a)) == sorted(map(tuple, lib_a)) and got_a

    dsession.sql(
        "create or replace view r12_scored as "
        "select doc_id, cast(doc_id % 2 as int) as y, "
        "(doc_id % 97) / 97.0 as score from r12_docs")
    scored = dsession.sql("select * from r12_scored")
    got_auc = dsession.sql(
        "select * from table(pipeline.`quality_auc`("
        "input => 'r12_scored', label => 'y', score => 'score'))"
    ).collect()
    assert got_auc == binary_auc(scored, "y", "score").collect()
    got_cal = dsession.sql(
        "select * from table(pipeline.`calibration_bins`("
        "input => 'r12_scored', label => 'y', score => 'score'))"
    ).collect()
    assert sorted(map(tuple, got_cal)) == sorted(
        map(tuple, calibration_bins(scored, "y", "score").collect()))

    dsession.sql(
        "create or replace view r12_weighted as "
        "select doc_id, lang, cast(1 + doc_id % 5 as double) as w "
        "from r12_docs")
    got_s = dsession.sql(
        "select * from table(pipeline.`stratified_weighted_sample`("
        "input => 'r12_weighted', weight => 'w', strata => 'lang', "
        "k => '5'))").collect()
    lib_s = stratified_weighted_sample(
        dsession.sql("select * from r12_weighted"),
        "doc_id", "w", k=5, strata_col="lang").collect()
    assert sorted(map(tuple, got_s)) == sorted(map(tuple, lib_s)) and got_s


def test_pipeline_table_function_r13_faces(dsession):
    """SQL faces for the r13 operators: classify_lang,
    token_fertility, source_diversity, readability — each must equal
    its library twin on the same input."""
    from drill_spark.ops.bpe import token_fertility
    from drill_spark.ops.langid import classify_lang
    from drill_spark.ops.text import readability, source_diversity

    dsession.register_fixture_tables("/root/testdata/sf0.001")
    dsession.sql("create or replace view r13_docs as "
                 "select doc_id, text, source from documents "
                 "where doc_id < 60")
    docs = dsession.sql("select * from r13_docs")

    got = dsession.sql(
        "select * from table(pipeline.`classify_lang`("
        "input => 'r13_docs', distance => 'true'))").collect()
    lib = classify_lang(docs, keep_distance=True).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, lib)) and got

    got = dsession.sql(
        "select * from table(pipeline.`source_diversity`("
        "input => 'r13_docs', n => '2'))").collect()
    lib = source_diversity(docs, "source", n=2).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, lib)) and got

    got = dsession.sql(
        "select * from table(pipeline.`readability`("
        "input => 'r13_docs'))").collect()
    lib = readability(docs).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, lib)) and got

    dsession.sql("create or replace view r13_lang as "
                 "select doc_id, text, "
                 "case when doc_id % 2 = 0 then 'a' else 'b' end as grp "
                 "from r13_docs")
    got = dsession.sql(
        "select * from table(pipeline.`token_fertility`("
        "input => 'r13_lang', group => 'grp'))").collect()
    lib = token_fertility(dsession.sql("select * from r13_lang"),
                          "grp").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, lib)) and got

    from drill_spark.ops.text import encoding_qa
    got = dsession.sql(
        "select * from table(pipeline.`encoding_qa`("
        "input => 'r13_docs'))").collect()
    lib = encoding_qa(docs).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, lib)) and got


def _drill_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.name.startswith("_drill_")}


def test_rewrite_views_dropped_after_statement(dsession):
    """Path tables and table functions register `_drill_path_N` /
    `_drill_tf_N` views only for the statement that named them: none is
    left in the catalog (or INFORMATION_SCHEMA.TABLES) afterwards, and
    the returned frame still runs."""
    df = dsession.sql(
        "select p.name, t.a from dfs.data.`people.json` p join table("
        "dfs.data.`pipes.psv`(type => 'psv', extractHeader => 'true')) t "
        "on p.id = cast(t.a as int)")
    assert not _drill_views(dsession.spark)
    assert sorted(r["name"] for r in df.collect()) == ["ada", "bob"]
    names = [r.TABLE_NAME for r in dsession.sql(
        "select TABLE_NAME from INFORMATION_SCHEMA.`TABLES`").collect()]
    assert not [n for n in names if n.startswith("_drill_")]


def test_rewrite_view_drop_keeps_cached_frames(dsession):
    """The drop goes through the session catalog, which does not uncache
    plans over the view (spark.catalog.dropTempView would)."""
    spark = dsession.spark
    cached = dsession.sql("select * from dfs.data.`people.json`").cache()
    try:
        assert cached.count() == 2
        dsession.sql("select count(*) from dfs.data.`people.json`").collect()
        assert not _drill_views(spark)
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.lookupCachedData(cached._jdf).isDefined()
        assert cached.is_cached and cached.count() == 2
    finally:
        cached.unpersist()


def test_views_over_path_tables_outlive_rewrite_views(dsession):
    """CREATE VIEW over a path table, a persisted .view.drill, and the
    Spark statements stored as SQL text naming the rewrite view (a
    CREATE TEMPORARY VIEW, also behind a leading comment, and a SQL
    table function) all stay usable in later statements."""
    dsession.sql("CREATE OR REPLACE VIEW seniors_v AS "
                 "select name from dfs.data.`people.json` where age > 40")
    dsession.sql("CREATE VIEW dfs.data.seniors_p AS "
                 "select name from dfs.data.`people.json` where age > 40")
    dsession.sql("create or replace temporary view seniors_t as "
                 "select name from dfs.data.`people.json` where age > 40")
    dsession.sql("-- seniors, commented\n/* block */ create or replace "
                 "temporary view seniors_c as "
                 "select name from dfs.data.`people.json` where age > 40")
    dsession.sql("CREATE OR REPLACE TEMPORARY FUNCTION seniors_f() "
                 "RETURNS TABLE(name STRING) RETURN "
                 "select name from dfs.data.`people.json` where age > 40")
    try:
        dsession.sql("select count(*) from dfs.data.`people.json`").collect()
        for q in ("select name from seniors_v",
                  "select name from dfs.data.`seniors_p.view.drill`",
                  "select name from seniors_t",
                  "select name from seniors_c",
                  "select name from seniors_f()"):
            assert [r["name"] for r in dsession.sql(q).collect()] == ["bob"]
    finally:
        dsession.sql("DROP VIEW dfs.data.seniors_p")
        dsession.sql("DROP TEMPORARY FUNCTION IF EXISTS seniors_f")
        for v in ("seniors_v", "seniors_t", "seniors_c"):
            dsession.spark.catalog.dropTempView(v)
