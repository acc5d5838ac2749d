"""Drill-side statements (sqlfront/catalog): their results are
driver-side rows planned as Catalyst local relations, never a
Python-backed ``Scan ExistingRDD``, with the same schema as before;
INSERT INTO a path table casts to the table's schema; MERGE takes any
alias; rewrite view names stay unique across threads."""

from __future__ import annotations

import datetime
import os
import sys
import threading

import pytest
from pyspark.sql import Row
from pyspark.sql.types import StructType

from drill_spark import plans
from drill_spark.session import DrillSession, local_frame


@pytest.fixture(scope="module")
def st(spark, tmp_path_factory):
    from drill_spark.readers.delta import write_delta

    root = tmp_path_factory.mktemp("st")
    s = DrillSession(spark=spark)
    s.register_workspace("dfs.st", str(root), "parquet", writable=True)
    spark.range(3).write.parquet(str(root / "plain"))
    write_delta(spark.range(4).selectExpr("id as k", "cast(id as double) as v"),
                str(root / "d"))
    yield s
    s.close()


_OK = "ok boolean, summary string"
# (id, statement, result schema); every column nullable, as the
# createDataFrame results these statements returned before were
STATEMENTS = [
    ("ctas", "create or replace table dfs.st.`ctas` as select 1 as id", _OK),
    ("insert", "insert into dfs.st.`plain` select cast(7 as bigint) as id", _OK),
    ("alter_session", "alter session set `store.format` = 'parquet'", _OK),
    ("reset", "reset `store.format`", _OK),
    ("use", "use dfs.st", _OK),
    ("show_files", "show files in dfs.st",
     "name string, isDirectory boolean, isFile boolean, length bigint, "
     "modificationTime timestamp, accessTime timestamp, permissions string"),
    ("show_tables", "show tables in dfs.st", "TABLE_SCHEMA string, TABLE_NAME string"),
    ("show_schemas", "show schemas", "CATALOG_NAME string, SCHEMA_NAME string, TYPE string"),
    ("describe_schema", "describe schema dfs.st",
     "schema_name string, location string, default_format string, writable boolean, "
     "type string"),
    ("sys_options", "select * from sys.options", "name string, val string, optionScope string"),
    ("sys_version", "select * from sys.version", "version string, spark_version string"),
    ("sys_memory", "select * from sys.memory",
     "hostname string, user_port int, heap_current bigint, heap_max bigint, "
     "direct_current bigint, jvm_direct_current bigint, direct_max bigint"),
    ("sys_threads", "select * from sys.threads",
     "hostname string, user_port int, total_threads int, busy_threads int"),
    ("sys_drillbits", "select * from sys.drillbits",
     "hostname string, user_port int, current boolean"),
    ("sys_connections", "select * from sys.connections",
     "user string, client string, established timestamp, queries int"),
    ("sys_boot", "select * from sys.boot", "name string, val string"),
    ("sys_profiles", "select * from sys.profiles",
     "query_id int, query string, start_ts timestamp, plan_ms double, state string"),
    ("information_schema", "select * from information_schema.`TABLES`",
     "TABLE_CATALOG string, TABLE_SCHEMA string, TABLE_NAME string, TABLE_TYPE string"),
    ("analyze", "analyze table dfs.st.`plain` compute statistics",
     "ok boolean, summary string, rows bigint, columns int"),
    ("optimize", "optimize dfs.st.`d`",
     "ok boolean, rewritten bigint, added bigint, skipped bigint"),
    ("vacuum", "vacuum dfs.st.`d`", "ok boolean, n_removed bigint, dry_run boolean"),
    ("merge", "merge into dfs.st.`d` as t using (select cast(1 as bigint) as k, 5.0d as v) "
     "src on t.k = src.k when matched then update set v = src.v",
     "ok boolean, updated bigint, deleted bigint, inserted bigint"),
    ("update", "update dfs.st.`d` set v = 0 where k = 2",
     "ok boolean, summary string, rows_updated bigint"),
    ("delete", "delete from dfs.st.`d` where k = 3",
     "ok boolean, summary string, rows_deleted bigint"),
    ("create_alias", "create or replace alias a1 for dfs.st.`plain`", _OK),
    ("show_aliases", "show aliases", "alias string, target string"),
    ("drop_alias", "drop alias if exists a1", _OK),
    ("drop_table", "drop table if exists dfs.st.`nothing`", _OK),
]


@pytest.mark.parametrize("stmt, schema", [s[1:] for s in STATEMENTS],
                         ids=[s[0] for s in STATEMENTS])
def test_statement_results_plan_no_python_scan(st, stmt, schema):
    df = st.sql(stmt)
    assert "Scan ExistingRDD" not in plans.explain_str(df)
    assert not plans.has_python_eval(df)
    assert df.schema == StructType.fromDDL(schema)
    assert df.collect() is not None


@pytest.mark.parametrize("rows, schema", [
    ([Row(ok=True, summary="x", n=3)], None),
    ([Row(a=None, b=1), Row(a="x", b=2)], None),
    ([Row(m={"k": 1}, l=["a"], d=datetime.date(2020, 1, 2))], None),
    ([Row(ts=datetime.datetime(2024, 1, 2, 3, 4, 5))], None),
    ([(1, "a")], "a int, b string"),
    ([], "a string, b bigint"),
    ([(1, 2, [[1.0], [2.0, 3.0]])], "query_id bigint, cell int, lut array<array<double>>"),
    ([{"a": 1, "s": {"x": "y"}}, {"a": 2}], "a long, s struct<x:string>"),
])
def test_local_frame_matches_create_dataframe(spark, rows, schema):
    """Same schema (names, types, nullability) and rows as
    ``createDataFrame`` of the same list, planned as a local scan."""
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "LocalTableScan" in plans.explain_str(got)
    assert plans.python_rdd_scans(want) == 1 and plans.python_rdd_scans(got) == 0


def test_python_rdd_scan_found_under_a_broadcast(spark):
    """A Python-backed scan on the broadcast side of a join still
    counts; a checkpointed one does not."""
    from pyspark.sql import functions as F

    small = spark.createDataFrame([(1, "a")], "id long, tag string")
    joined = spark.range(100).join(F.broadcast(small), "id")
    assert "BroadcastExchange" in plans.explain_str(joined)
    assert plans.python_rdd_scans(joined) == 1 and plans.has_python_eval(joined)
    cut = spark.range(100).join(F.broadcast(small.localCheckpoint()), "id")
    assert plans.python_rdd_scans(cut) == 0 and not plans.has_python_eval(cut)


def test_insert_casts_to_the_table_schema(st, spark):
    """INSERT INTO a parquet directory stores the SELECT's columns, by
    position, in the table's types; a cast the ANSI store-assignment
    rules forbid raises before anything is written."""
    path = st.workspaces["dfs.st"].path + "/ins"
    spark.range(3).write.parquet(path)
    st.sql("insert into dfs.st.`ins` select 7 as id")  # int into bigint
    st.sql("insert into dfs.st.`ins` select cast(8 as smallint) as other")
    back = spark.read.parquet(path)
    assert back.schema.simpleString() == "struct<id:bigint>"
    assert sorted(r.id for r in back.collect()) == [0, 1, 2, 7, 8]
    with pytest.raises(ValueError, match=r"cannot store string column `id` in "
                                         r"bigint column `id`"):
        st.sql("insert into dfs.st.`ins` select 'x' as id")
    with pytest.raises(ValueError, match="the table has 1 columns, the query 2"):
        st.sql("insert into dfs.st.`ins` select 1 as id, 2 as b")
    assert spark.read.parquet(path).count() == 5


def test_insert_raises_on_overflow(st, spark):
    """A value the table's type cannot hold fails the INSERT and leaves
    the table as it was, where the session's non-ANSI cast would store
    4294967297 in an int column as 1 and 12345.6 in a decimal(4,1)
    column as null."""
    from decimal import Decimal

    from pyspark.errors import PySparkException

    path = st.workspaces["dfs.st"].path + "/ints"
    spark.range(2).selectExpr("cast(id as int) as id", "cast(id as decimal(4,1)) as d") \
        .write.parquet(path)
    st.sql("insert into dfs.st.`ints` select 5 as id, 1.5 as d")  # fits: stored
    for select in ("select 4294967297 as id, 0.0 as d",
                   "select cast('NaN' as double) as id, 0.0 as d",
                   "select 1 as id, 12345.6 as d"):
        with pytest.raises(PySparkException, match="a value overflows storing"):
            st.sql(f"insert into dfs.st.`ints` {select}")
    back = spark.read.parquet(path)
    assert back.schema.simpleString() == "struct<id:int,d:decimal(4,1)>"
    assert sorted(back.collect()) == [
        Row(id=0, d=Decimal("0.0")), Row(id=1, d=Decimal("1.0")), Row(id=5, d=Decimal("1.5"))]


def test_insert_into_empty_directory_appends(st, spark):
    path = st.workspaces["dfs.st"].path + "/empty_dir"
    os.makedirs(path)
    st.sql("insert into dfs.st.`empty_dir` select 1 as id")
    assert spark.read.parquet(path).collect() == [Row(id=1)]


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
@pytest.mark.parametrize("target, source, quoted", [
    ("tgt", "s", False), ("src", "t", False), (None, "chg", False), ("tgt", "s", True)])
def test_merge_takes_any_alias(st, spark, fmt, target, source, quoted):
    """Any identifier aliases the target and the source, swapped
    ``t``/``src`` included; qualifiers inside string literals stay. The
    ``quoted`` case merges from a path table whose backquoted name has
    a space and writes the source qualifier backquoted."""
    from drill_spark.readers.delta import write_delta
    from drill_spark.readers.iceberg import write_iceberg

    root = st.workspaces["dfs.st"].path
    name = f"m_{fmt}_{target}_{source}_{quoted}"
    write = write_delta if fmt == "delta" else write_iceberg
    write(spark.range(4).selectExpr("id as k", "cast(id as double) as v", "'x' as note"),
          root + "/" + name)
    rows = "select cast(1 as bigint) as k, cast(10 as double) as v union all select 9, 90"
    using = f"({rows})"
    if quoted:
        spark.sql(rows).write.mode("overwrite").parquet(root + "/merge src")
        using = "dfs.st.`merge src`"
    t, q = target or "t", f"`{source}`" if quoted else source
    out = st.sql(
        f"merge into dfs.st.`{name}` {'as ' + target if target else ''} "
        f"using {using} {source} on {t}.k = {q}.k "
        f"when matched then update set v = {q}.v, note = '{q}.k' "
        f"when not matched then insert (k, v, note) values ({q}.k, {q}.v, 'new')"
    ).collect()[0]
    assert (out.updated, out.inserted) == (1, 1)
    got = {r.k: (r.v, r.note) for r in st.sql(f"select * from dfs.st.`{name}`").collect()}
    assert got == {0: (0.0, "x"), 1: (10.0, f"{q}.k"), 2: (2.0, "x"),
                   3: (3.0, "x"), 9: (90.0, "new")}


def test_fresh_view_names_are_unique_across_threads(spark):
    s = DrillSession(spark=spark)
    interval = sys.getswitchinterval()
    names: list[str] = []

    def draw():
        names.extend([s._fresh_view("t") for _ in range(20_000)])

    sys.setswitchinterval(1e-6)  # switch threads as often as possible
    try:
        threads = [threading.Thread(target=draw) for _ in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert len(names) == len(set(names)) == 160_000
    s._kept_views.clear()  # never registered: nothing to drop
    s.close()
