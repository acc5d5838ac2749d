"""Engine session: the Drill "Foreman + session options" analog.

Drill runs a per-query Foreman (reference:
exec/java-exec/src/main/java/org/apache/drill/exec/work/foreman/Foreman.java:97)
over a drillbit cluster coordinated by ZooKeeper; session options are set
via ALTER SESSION SET (planner/sql/handlers/SetOptionHandler.java). On
Spark, the cluster/scheduling layer is Spark itself; this module provides
the session object: SparkSession construction tuned for the engine,
Drill-style option names mapped to Spark confs, workspace/table
resolution, and ``sql()`` with the Drill path-as-table front end.

Scale notes (100 TB target):
- AQE on: runtime coalescing, skew-join splitting, broadcast demotion.
- Runtime bloom-filter join pushdown on (Drill's RuntimeFilterRouter
  analog, work/filter/RuntimeFilterRouter.java, is built into Spark).
- shuffle.partitions defaults to max(2*cores, 64) locally; on a real
  cluster AQE coalesces from spark.sql.adaptive.coalescePartitions.*,
  so an over-estimate is safe, an under-estimate is not.
- Session timezone pinned UTC so results are stable across clusters
  (and match the DuckDB oracle used in tests).
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from drill_spark.readers.external import PLUGINS
from drill_spark.readers.files import SchemaStore

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _truthy(v: str) -> bool:
    return str(v).strip().lower() in ("true", "1", "on", "yes")


def _slice_target_to_partitions(v: str) -> str:
    # Drill's slice_target is min ROWS per major fragment before it
    # parallelizes (default 100000): smaller value => more fragments.
    # Translate to a partition count with the same monotonicity, sized
    # for ~100M-row workloads, clamped to a sane range.
    rows = max(1, int(float(v)))
    return str(max(8, min(2048, 100_000_000 // rows)))


# Drill session-option name -> (Spark conf name, value mapper).
# Drill options live in exec/java-exec/.../ExecConstants.java; we map the
# planner/exec options that have a direct Spark equivalent — translating
# the VALUE too (polarity and units differ, e.g. enable_hashjoin=true
# means preferSortMergeJoin=false) — and keep the rest in a session-local
# dict (visible via sys.options) so ALTER SESSION never errors on a
# known Drill option.
_OPTION_MAP: dict[str, tuple[str, "callable"]] = {
    "planner.slice_target": ("spark.sql.shuffle.partitions", _slice_target_to_partitions),
    "planner.broadcast_threshold": ("spark.sql.autoBroadcastJoinThreshold", str),
    # boolean off-switch: disabled => threshold -1 (never broadcast);
    # enabled => restore the engine default
    "planner.enable_broadcast_join": (
        "spark.sql.autoBroadcastJoinThreshold",
        lambda v: "64m" if _truthy(v) else "-1",
    ),
    "exec.enable_union_type": ("spark.sql.variant.enabled", lambda v: str(_truthy(v)).lower()),
    "drill.exec.functions.cast_empty_string_to_null": (
        "spark.sql.legacy.castEmptyStringToNull",
        lambda v: str(_truthy(v)).lower(),
    ),
    # hash join preferred <=> NOT preferring sort-merge
    "planner.enable_hashjoin": (
        "spark.sql.join.preferSortMergeJoin",
        lambda v: str(not _truthy(v)).lower(),
    ),
    # writer codec (ExecConstants.PARQUET_WRITER_COMPRESSION_TYPE)
    "store.parquet.compression": (
        "spark.sql.parquet.compression.codec", lambda v: str(v).lower(),
    ),
}

# Drill parquet-writer knobs that live in parquet-mr's HADOOP conf, not
# a Spark SQL conf (ExecConstants PARQUET_BLOCK_SIZE / PARQUET_PAGE_SIZE
# / PARQUET_WRITER_ENABLE_DICTIONARY_ENCODING). Spark's parquet writer
# reads these from the session hadoopConfiguration at write time, so
# ALTER SESSION takes effect for subsequent CTAS without restarting.
_HADOOP_OPTION_MAP: dict[str, tuple[str, "callable"]] = {
    "store.parquet.block-size": ("parquet.block.size", str),
    "store.parquet.page-size": ("parquet.page.size", str),
    "store.parquet.enable_dictionary_encoding": (
        "parquet.enable.dictionary", lambda v: str(_truthy(v)).lower(),
    ),
}


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "drill_spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
    hive: bool | None = None,
) -> SparkSession:
    """Build (or return) the engine SparkSession with scale-ready defaults.

    ``hive=True`` (or env ``SPARK_GRAFT_HIVE=1``) enables the Hive
    catalog — Spark's HiveExternalCatalog over a metastore, the layer
    Drill's hive storage plugin reads through HiveMetadataProvider
    (reference: contrib/storage-hive/core/src/main/java/org/apache/
    drill/exec/store/hive/HiveStoragePlugin.java). Catalog placement is
    a static conf, so the flag only takes effect on the FIRST session
    in the JVM; ``SPARK_GRAFT_HIVE_WAREHOUSE`` / ``SPARK_GRAFT_HIVE_METASTORE``
    point the warehouse dir and the embedded Derby metastore somewhere
    durable (defaults: ./spark-warehouse, ./metastore_db)."""
    cores = cores or _default_parallelism()
    shuffle_parts = max(2 * cores, 64)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        # --- planner / runtime optimizations (Drill §4 analogs, all built-in) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # --- semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")  # Drill's lenient casts (TypeCastRules.java:40)
        # last-wins map keys (Drill's map writes overwrite; also what
        # parse_query needs for repeated URL params)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # JDBC/ODBC connections share this session's state (static
        # conf, read at thrift-server session setup): the drill compat
        # functions and temp views resolve over the wire
        .config("spark.sql.hive.thriftServer.singleSession", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as long and convert (see load_fixture)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep driver logs sane
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if hive is None:
        hive = _truthy(os.environ.get("SPARK_GRAFT_HIVE", ""))
    if hive:
        wh = os.environ.get("SPARK_GRAFT_HIVE_WAREHOUSE")
        ms = os.environ.get("SPARK_GRAFT_HIVE_METASTORE")
        if wh:
            builder = builder.config("spark.sql.warehouse.dir", wh)
        if ms:
            builder = builder.config(
                "spark.hadoop.javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={ms};create=true",
            )
        builder = builder.enableHiveSupport()
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Runtime-settable confs every consumer of the fixtures needs, applied to
# whatever session is handed in (the driver's harness builds a vanilla
# SparkSession, not get_spark()'s): nanos parquet reads, UTC semantics
# matching the DuckDB oracle, and Drill's lenient casts.
_FIXTURE_SESSION_CONFS = (
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.ansi.enabled", "false"),
    ("spark.sql.mapKeyDedupPolicy", "LAST_WIN"),
)


def prepare_session(spark: SparkSession) -> None:
    """Apply the engine's runtime-settable semantic confs to any session.
    Memoized per session object — called from every load_fixture, so
    the py4j conf round-trips would otherwise repeat per query."""
    if getattr(spark, "_drill_prepared", False):
        return
    for k, v in _FIXTURE_SESSION_CONFS:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # read-only in this deployment; builder-set sessions already have it
    spark._drill_prepared = True


def load_fixture(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver fixture table, normalizing exotic physical types.

    events.ts is parquet TIMESTAMP(NANOS,false); with
    spark.sql.legacy.parquet.nanosAsLong it arrives as raw nanos — convert
    to TIMESTAMP_NTZ (micros, matching DuckDB's truncation) here so every
    consumer sees a timestamp column. Works on ANY session: the needed
    confs are runtime-settable and applied here, not only in get_spark().
    """
    from pyspark.sql import functions as F  # local: keep module import light

    cache = getattr(spark, "_drill_fixture_cache", None)
    if cache is None:
        cache = spark._drill_fixture_cache = {}
    key = (sf_dir, name)
    df = cache.get(key)
    if df is not None:
        return df
    prepare_session(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
    # cached per session: the DataFrame is just an analyzed plan over the
    # parquet path — reusing it skips the per-query footer/schema read
    # (fixture dirs are immutable for a session's lifetime)
    cache[key] = df
    return df


@dataclass
class Workspace:
    """Drill workspace: a named root (a directory, or the address of an
    external storage plugin) tables resolve against.

    Reference: storage plugin config workspaces
    (exec/java-exec/.../store/dfs/WorkspaceConfig.java); the non-file
    kinds mirror the contrib/storage-* plugins.
    """

    name: str
    path: str
    default_format: str = "parquet"
    writable: bool = False
    kind: str = "file"  # "file" or a key of readers.external.PLUGINS
    options: dict = field(default_factory=dict)


@dataclass
class DrillSession:
    """Engine session wrapping a SparkSession.

    Drill analog: UserSession + Foreman. ``sql()`` accepts Drill-flavored
    SQL (backtick path tables, ALTER SESSION SET, SHOW FILES) and
    standard Spark SQL; everything else is delegated to Catalyst.
    """

    spark: SparkSession = field(default_factory=get_spark)
    workspaces: dict[str, Workspace] = field(default_factory=dict)
    options: dict[str, str] = field(default_factory=dict)
    aliases: dict[str, str] = field(default_factory=dict)
    materialized: dict[str, str] = field(default_factory=dict)
    mv_defs: dict[str, tuple] = field(default_factory=dict)  # name -> (norm sql, canonical plan)
    mv_incr: dict[str, dict] = field(default_factory=dict)  # name -> incremental-refresh state
    vector_indexes: dict[str, str] = field(default_factory=dict)  # name -> index dir
    profiles: list[dict] = field(default_factory=list)
    temp_tables: list[str] = field(default_factory=list)
    # inferred path-table schemas reused across statements (readers/files.py)
    schema_store: SchemaStore = field(default_factory=SchemaStore)
    _view_counter: int = 0
    # rewrite temp views (_drill_path_N/_drill_tf_N): the running
    # statement's, per thread, and those kept until close()
    _statement: threading.local = field(default_factory=threading.local, repr=False)
    _kept_views: list[str] = field(default_factory=list)
    # hadoop-conf keys this SESSION mutated -> the value before the first
    # mutation (None = key was unset). The hadoopConfiguration is
    # SparkContext-global, so Drill's session-scoped option semantics
    # require restoring these on RESET/close.
    _hadoop_prior: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        from drill_spark import functions as _fns

        _fns.register_all(self.spark)
        if "dfs" not in self.workspaces:
            self.workspaces["dfs"] = Workspace("dfs", "/", "parquet")
            self.workspaces["dfs.tmp"] = Workspace("dfs.tmp", "/tmp", "parquet", writable=True)
        # REST endpoints as tables: http.`https://host/api`
        for scheme in ("http", "https"):
            self.workspaces.setdefault(scheme, Workspace(scheme, "", kind="http"))

    # ---------------- workspace / table resolution ----------------

    def register_workspace(
        self,
        name: str,
        path: str,
        default_format: str = "parquet",
        writable: bool = False,
        *,
        kind: str = "file",
        options: dict[str, str] | None = None,
    ) -> None:
        """Register a workspace (Drill's storage plugin config). ``kind``
        is ``"file"`` (a directory root; ``default_format`` and
        ``writable`` apply) or a key of ``readers.external.PLUGINS``, whose
        comments say what ``path`` holds for each kind (a JDBC url,
        Kafka bootstrap servers, a Hive database, ...). ``options`` are
        the plugin config; query options of ``table(ws.`t`(...))``
        override them. Only file workspaces are writable."""
        if kind != "file":
            if kind not in PLUGINS:
                raise ValueError(
                    f"unknown workspace kind {kind!r}; expected 'file' or one of "
                    f"{sorted(PLUGINS)}")
            if writable:
                raise ValueError(f"{kind} workspaces are read-only; only file "
                                 "workspaces take writable=True")
        self.workspaces[name] = Workspace(
            name, path, default_format, writable, kind, dict(options or {}))

    def serve_jdbc(self, host: str = "127.0.0.1", port: int = 0,
                   sf_dir: str | None = None):
        """Start the HiveServer2-compatible Thrift JDBC/ODBC endpoint
        over this session (Drill analog: the bundled JDBC driver in
        ``exec/jdbc/`` + ODBC client). Returns ``(server, port)``;
        ``server.stop()`` shuts it down. Fixture tables from ``sf_dir``
        (if given) are published as ``global_temp.<name>`` so every
        JDBC connection sees them."""
        from drill_spark.thriftserver import (
            publish_fixture_tables, start_thrift_server)

        publish = publish_fixture_tables(self, sf_dir) if sf_dir else {}
        return start_thrift_server(self.spark, host, port, publish)

    def register_fixture_tables(self, sf_dir: str) -> None:
        """Register the driver parquet fixtures as temp views (TESTDATA.md)."""
        for t in FIXTURE_TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                load_fixture(self.spark, sf_dir, t).createOrReplaceTempView(t)

    def table(self, name: str) -> DataFrame:
        """Resolve a Drill-style table name (``dfs.tmp`/x.json```, plain
        view name, or bare path) to a DataFrame."""
        from drill_spark.catalog import resolve_table

        return resolve_table(self, name)

    # ---------------- SQL front end ----------------

    def sql(self, query: str) -> DataFrame:
        """Run SQL. Drill-isms are rewritten first (sqlfront); the result
        is always executed by Catalyst via ``spark.sql``.

        Each statement is recorded in ``profiles`` (sys.profiles analog:
        Drill's QueryManager keeps per-query profiles). plan_ms covers
        rewrite+analysis; execution is lazy and runs on the action.
        schema_inferred/schema_reused count the path-table reads that
        ran schema inference and those served by ``schema_store``.

        The temp views the rewrite registered for path tables and table
        functions are dropped when the statement returns: the returned
        DataFrame is already analyzed, so it no longer needs the names.
        A statement Spark may store as SQL text (see
        ``_keep_statement_views``) keeps them until ``close()``."""
        import datetime
        import time
        import uuid

        from drill_spark.sqlfront import execute

        entry = {
            "queryId": str(uuid.uuid4()),
            "query": query.strip(),
            "start_ts": datetime.datetime.now(),
            "plan_ms": 0.0,
            "state": "FAILED",
            "plan": "",
        }
        store = self.schema_store
        inferred, reused = store.inferred, store.reused
        outer = getattr(self._statement, "views", None)
        self._statement.views = views = []
        t0 = time.perf_counter()
        try:
            df = execute(self, query)
            entry["state"] = "COMPLETED"
            try:
                # the formatted physical plan, captured like Drill's
                # profile page; the Dataset caches its QueryExecution so
                # the action reuses this planning work
                entry["plan"] = df._jdf.queryExecution().explainString(
                    self.spark.sparkContext._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString("formatted"))[:20_000]
            except Exception:
                pass  # streaming frames / non-plannable results
            return df
        finally:
            self._statement.views = outer
            self._drop_views(views)
            entry["plan_ms"] = round((time.perf_counter() - t0) * 1000, 3)
            entry["schema_inferred"] = store.inferred - inferred
            entry["schema_reused"] = store.reused - reused
            self.profiles.append(entry)
            if len(self.profiles) > 1000:  # bounded history, like the web UI
                del self.profiles[:-1000]

    # ---------------- session options ----------------

    def set_option(self, name: str, value: str) -> None:
        """ALTER SESSION SET analog (SetOptionHandler.java). Mapped Drill
        options are translated (name AND value) to their Spark conf."""
        self.options[name] = value
        mapped = _OPTION_MAP.get(name)
        hmapped = _HADOOP_OPTION_MAP.get(name)
        if mapped is not None:
            spark_conf, convert = mapped
            self.spark.conf.set(spark_conf, convert(value))
        elif hmapped is not None:
            hconf, convert = hmapped
            hc = self.spark.sparkContext._jsc.hadoopConfiguration()
            if hconf not in self._hadoop_prior:
                self._hadoop_prior[hconf] = hc.get(hconf)
            hc.set(hconf, convert(value))
        elif name.startswith("spark."):
            self.spark.conf.set(name, value)

    def reset_option(self, name: str) -> None:
        """ALTER SESSION RESET analog: drop the session value and, for
        hadoop-conf-mapped writer knobs, restore the context value that
        preceded this session's first SET (the hadoopConfiguration is
        context-global; without the restore a RESET would leak the
        session's value to every other DrillSession)."""
        self.options.pop(name, None)
        hmapped = _HADOOP_OPTION_MAP.get(name)
        if hmapped is not None:
            self._restore_hadoop(hmapped[0])

    def _restore_hadoop(self, hconf: str) -> None:
        if hconf not in self._hadoop_prior:
            return
        prior = self._hadoop_prior.pop(hconf)
        hc = self.spark.sparkContext._jsc.hadoopConfiguration()
        if prior is None:
            hc.unset(hconf)
        else:
            hc.set(hconf, prior)

    def get_option(self, name: str, default: str | None = None) -> str | None:
        return self.options.get(name, default)

    def _fresh_view(self, hint: str = "t") -> str:
        self._view_counter += 1
        name = f"_drill_{hint}_{self._view_counter}"
        views = getattr(self._statement, "views", None)
        (self._kept_views if views is None else views).append(name)
        return name

    def _keep_statement_views(self) -> None:
        """Keep the running statement's rewrite views until ``close()``.
        For statements Spark may store as SQL text and resolve again on
        every use (a SQL function body, a temp view, CACHE TABLE): the
        stored text names the views."""
        views = getattr(self._statement, "views", None)
        if views:
            self._kept_views += views
            views.clear()

    def _drop_views(self, names: list[str]) -> None:
        """Drop temp views through the session catalog, not
        ``spark.catalog.dropTempView``: that one also uncaches every
        cached plan over the view, e.g. a cached
        ``select * from dfs.`...``` frame."""
        catalog = self.spark._jsparkSession.sessionState().catalog()
        for name in names:
            catalog.dropTempView(name)
        names.clear()

    def close(self) -> None:
        """End the session: drop session-scoped temp tables and
        materialized views (Drill drops temporary tables on session
        close — UserSession teardown). The shared SparkSession is NOT
        stopped; it may serve other sessions."""
        import shutil

        for hconf in list(self._hadoop_prior):
            self._restore_hadoop(hconf)
        self._drop_views(self._kept_views)
        self.schema_store.clear()
        for path in self.temp_tables:
            shutil.rmtree(path, ignore_errors=True)
        self.temp_tables.clear()
        for name, path in list(self.materialized.items()):
            try:
                self.spark.catalog.dropTempView(name)
            except Exception:
                pass
            shutil.rmtree(path, ignore_errors=True)
        self.materialized.clear()
        for path in self.vector_indexes.values():
            shutil.rmtree(path, ignore_errors=True)
        self.vector_indexes.clear()
        self.mv_defs.clear()
        self.mv_incr.clear()
        self.aliases.clear()
