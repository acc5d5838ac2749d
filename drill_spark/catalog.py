"""Catalog layer: table resolution, INFORMATION_SCHEMA, sys tables.

Drill generates INFORMATION_SCHEMA from its plugin registry
(store/ischema/InfoSchemaTable.java) and exposes engine state as sys.*
tables (store/sys/SystemTable.java). Here both are small DataFrames
derived from the Spark catalog and the DrillSession state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Row

from drill_spark.session import local_frame


def resolve_table(session, name: str) -> DataFrame:
    """Resolve Drill-style names: registered view > workspace path > path."""
    spark = session.spark
    if "`" in name:
        from drill_spark.sqlfront import rewrite

        return spark.sql(f"SELECT * FROM {rewrite(session, name)}")
    try:
        return spark.table(name)
    except Exception:
        pass
    if os.path.exists(name):
        from drill_spark.readers import files, formats

        return files.read_auto(spark, name, formats.infer_format(name, "parquet"),
                               {}, session)
    raise ValueError(f"table not found: {name}")


# ---------------- INFORMATION_SCHEMA (InfoSchemaTable.java analog) ----------------


def information_schema_tables(session) -> DataFrame:
    rows = [
        Row(TABLE_CATALOG="DRILL", TABLE_SCHEMA=t.namespace[0] if t.namespace else "default",
            TABLE_NAME=t.name, TABLE_TYPE="VIEW" if t.isTemporary else "TABLE")
        for t in session.spark.catalog.listTables()
    ]
    return local_frame(
        session.spark, rows,
        "TABLE_CATALOG string, TABLE_SCHEMA string, TABLE_NAME string, TABLE_TYPE string")


def information_schema_columns(session, table: str | None = None) -> DataFrame:
    """COLUMNS for one table, or for every visible table when None."""
    tables = [table] if table else [
        t.name for t in session.spark.catalog.listTables() if not t.name.startswith(("information_schema_", "sys_", "_drill_"))
    ]
    rows = []
    for tname in tables:
        try:
            fields = session.spark.table(tname).schema.fields
        except Exception:
            continue
        rows += [
            Row(TABLE_NAME=tname, COLUMN_NAME=f.name, ORDINAL_POSITION=i + 1,
                DATA_TYPE=f.dataType.simpleString(), IS_NULLABLE="YES" if f.nullable else "NO")
            for i, f in enumerate(fields)
        ]
    return local_frame(
        session.spark, rows,
        "TABLE_NAME string, COLUMN_NAME string, ORDINAL_POSITION int, DATA_TYPE string, IS_NULLABLE string",
    )


def information_schema_schemata(session) -> DataFrame:
    # TYPE is the storage plugin type, as in Drill's SCHEMATA
    rows = [Row(CATALOG_NAME="DRILL", SCHEMA_NAME=w, TYPE=ws.kind)
            for w, ws in sorted(session.workspaces.items())]
    rows += [Row(CATALOG_NAME="DRILL", SCHEMA_NAME=db.name, TYPE="spark") for db in session.spark.catalog.listDatabases()]
    return local_frame(session.spark, rows, "CATALOG_NAME string, SCHEMA_NAME string, TYPE string")


# ---------------- sys.* tables (SystemTable.java analog) ----------------


def sys_options(session) -> DataFrame:
    rows = [Row(name=k, val=str(v), optionScope="SESSION") for k, v in sorted(session.options.items())]
    rows += [
        Row(name=k, val=str(v), optionScope="SYSTEM")
        for k, v in sorted(session.spark.sparkContext.getConf().getAll())
        if k.startswith("spark.sql")
    ]
    return local_frame(session.spark, rows, "name string, val string, optionScope string")


def sys_version(session) -> DataFrame:
    import drill_spark

    return local_frame(
        session.spark, [Row(version=drill_spark.__version__, spark_version=session.spark.version)],
        "version string, spark_version string",
    )


def sys_functions(session) -> DataFrame:
    rows = [Row(name=r[0]) for r in session.spark.sql("SHOW FUNCTIONS").collect()]
    return local_frame(session.spark, rows, "name string")


def sys_profiles(session) -> DataFrame:
    """Query-history table (store/sys profiles + web UI profile analog):
    one row per statement submitted through DrillSession.sql()."""
    rows = [
        Row(
            query_id=i,
            query=q["query"],
            start_ts=q["start_ts"],
            plan_ms=q["plan_ms"],
            state=q["state"],
        )
        for i, q in enumerate(getattr(session, "profiles", []))
    ]
    schema = "query_id int, query string, start_ts timestamp, plan_ms double, state string"
    return local_frame(session.spark, rows, schema)


def sys_drillbits(session) -> DataFrame:
    """Cluster-membership table (store/sys/DrillbitIterator analog):
    Spark executors from the status tracker; in local mode, the driver."""
    sc = session.spark.sparkContext
    try:  # JVM status tracker (the Python wrapper lacks executor infos)
        infos = sc._jsc.sc().statusTracker().getExecutorInfos()
        rows = [Row(hostname=e.host(), user_port=int(e.port()), current=True) for e in infos]
    except Exception:
        rows = []
    rows = rows or [Row(hostname="driver", user_port=0, current=True)]
    return local_frame(session.spark, rows, "hostname string, user_port int, current boolean")


def sys_memory(session) -> DataFrame:
    """Memory table (store/sys/MemoryIterator analog): per-node heap/
    direct usage. Local mode = the driver JVM, read through py4j's
    Runtime — the same numbers a Spark executor reports to its UI."""
    jvm_rt = session.spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    heap_max = int(jvm_rt.maxMemory())
    heap_used = int(jvm_rt.totalMemory()) - int(jvm_rt.freeMemory())
    row = Row(
        hostname="driver",
        user_port=0,
        heap_current=heap_used,
        heap_max=heap_max,
        direct_current=None,
        jvm_direct_current=None,
        direct_max=None,
    )
    schema = (
        "hostname string, user_port int, heap_current bigint, heap_max bigint, "
        "direct_current bigint, jvm_direct_current bigint, direct_max bigint"
    )
    return local_frame(session.spark, [row], schema)


def sys_threads(session) -> DataFrame:
    """Threads table (store/sys/ThreadsIterator analog): JVM thread
    counts per node."""
    tmx = (
        session.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getThreadMXBean()
    )
    row = Row(
        hostname="driver",
        user_port=0,
        total_threads=int(tmx.getThreadCount()),
        busy_threads=int(tmx.getThreadCount()) - int(tmx.getDaemonThreadCount()),
    )
    return local_frame(
        session.spark, [row], "hostname string, user_port int, total_threads int, busy_threads int"
    )


def sys_aliases(session) -> DataFrame:
    """Aliases table (store/sys/AliasesIterator analog): the session's
    registered table aliases (CREATE ALIAS surface)."""
    rows = [Row(alias=a, name=t, user="anonymous", isPublic=False)
            for a, t in sorted(getattr(session, "aliases", {}).items())]
    return local_frame(
        session.spark, rows, "alias string, name string, user string, isPublic boolean")


def sys_connections(session) -> DataFrame:
    """Connections table (store/sys/BitToUserConnectionIterator analog):
    embedded mode has the one in-process session; the JDBC/web servers
    add theirs when running."""
    import datetime

    started = getattr(session, "_started_at", None)
    if started is None:
        started = datetime.datetime.now()
        session._started_at = started
    rows = [Row(user="anonymous", client="embedded",
                established=started, queries=len(getattr(session, "profiles", [])))]
    return local_frame(
        session.spark, rows, "user string, client string, established timestamp, queries int")


def sys_internal_options(session) -> DataFrame:
    """Internal-options table (SystemTable.INTERNAL_OPTIONS /
    ExtendedOptionIterator with internal scope): engine-internal knobs
    outside the user option surface — here, the Spark conf keys that
    are not spark.sql.* session options."""
    rows = [
        Row(name=k, kind="STRING", accessibleScopes="ALL",
            val=str(v), optionScope="SYSTEM")
        for k, v in sorted(session.spark.sparkContext.getConf().getAll())
        if not k.startswith("spark.sql")
    ]
    return local_frame(
        session.spark, rows,
        "name string, kind string, accessibleScopes string, val string, optionScope string")


def sys_boot(session) -> DataFrame:
    """Boot table (SystemTable.BOOT analog): immutable boot-time
    facts of this engine process."""
    import sys as _sys

    sc = session.spark.sparkContext
    jsys = sc._jvm.java.lang.System
    rows = [
        Row(name="spark.master", val=str(sc.master)),
        Row(name="spark.app.name", val=str(sc.appName)),
        Row(name="spark.app.id", val=str(sc.applicationId)),
        Row(name="java.version",
            val=str(jsys.getProperty("java.version"))),
        Row(name="python.version", val=_sys.version.split()[0]),
        Row(name="default.parallelism", val=str(sc.defaultParallelism)),
    ]
    return local_frame(session.spark, rows, "name string, val string")


def sys_profiles_json(session) -> DataFrame:
    """Profiles-as-JSON table (SystemTable.PROFILES_JSON /
    ProfileJsonIterator analog): the full profile document per query,
    one JSON string per row."""
    import json as _json

    rows = [
        Row(queryId=str(i), json=_json.dumps(q, default=str, sort_keys=True))
        for i, q in enumerate(getattr(session, "profiles", []))
    ]
    return local_frame(session.spark, rows, "queryId string, json string")


def sys_materialized_views(session) -> DataFrame:
    """Registered materialized views with their storage, row counts
    (captured at CREATE for rollup ranking), and whether the
    incremental-refresh recipe applies."""
    rows = [
        Row(name=n, path=p,
            rows=(session.mv_incr.get(n, {}) or {}).get("rows"),
            incremental="merge" in session.mv_incr.get(n, {}))
        for n, p in sorted(getattr(session, "materialized", {}).items())
    ]
    return local_frame(
        session.spark, rows, "name string, path string, rows bigint, incremental boolean")


def sys_vector_indexes(session) -> DataFrame:
    """Registered persistent vector indexes (CREATE VECTOR INDEX) with
    their meta facts."""
    import json as _json
    import os as _os

    rows = []
    for n, p in sorted(getattr(session, "vector_indexes", {}).items()):
        meta = {}
        try:
            with open(_os.path.join(p, "meta.json")) as f:
                meta = _json.load(f)
        except Exception:
            pass
        rows.append(Row(name=n, path=p, rows=meta.get("rows"),
                        n_cells=meta.get("n_cells"), m=meta.get("m"),
                        dim=meta.get("dim")))
    return local_frame(
        session.spark, rows,
        "name string, path string, rows bigint, n_cells int, m int, dim int")


def register_system_views(session) -> None:
    """Expose information_schema_* / sys_* as queryable temp views
    (snapshots at call time; sqlfront refreshes on each dotted-name query)."""
    information_schema_tables(session).createOrReplaceTempView("information_schema_tables")
    information_schema_schemata(session).createOrReplaceTempView("information_schema_schemata")
    information_schema_columns(session).createOrReplaceTempView("information_schema_columns")
    sys_options(session).createOrReplaceTempView("sys_options")
    sys_version(session).createOrReplaceTempView("sys_version")
    sys_functions(session).createOrReplaceTempView("sys_functions")
    sys_profiles(session).createOrReplaceTempView("sys_profiles")
    sys_drillbits(session).createOrReplaceTempView("sys_drillbits")
    sys_memory(session).createOrReplaceTempView("sys_memory")
    sys_threads(session).createOrReplaceTempView("sys_threads")
    sys_aliases(session).createOrReplaceTempView("sys_aliases")
    # reference names (SystemTable.java): table_aliases is the CREATE
    # ALIAS surface; storage_aliases aliases storage configs, which the
    # session API does not create — an empty, correctly-typed table
    sys_aliases(session).createOrReplaceTempView("sys_table_aliases")
    sys_aliases(session).limit(0).createOrReplaceTempView(
        "sys_storage_aliases")
    sys_connections(session).createOrReplaceTempView("sys_connections")
    sys_internal_options(session).createOrReplaceTempView(
        "sys_internal_options")
    sys_boot(session).createOrReplaceTempView("sys_boot")
    sys_profiles_json(session).createOrReplaceTempView("sys_profiles_json")
    sys_materialized_views(session).createOrReplaceTempView(
        "sys_materialized_views")
    sys_vector_indexes(session).createOrReplaceTempView(
        "sys_vector_indexes")
