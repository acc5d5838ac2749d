"""External storage plugins: tables that live outside the file system.

Drill's StoragePluginRegistry maps plugin names to reader configs; here
that is the ``PLUGINS`` table at the bottom of this module, keyed by
the workspace ``kind`` (``DrillSession.register_workspace(..., kind=)``).
The workspace path is the plugin's address (a JDBC url, broker list,
connection uri, Hive database, REST base url); the backticked table
name and any workspace/query options complete the scan.

Spark-first mapping:
- Most plugins are Spark connectors behind the Data Sources API's
  ``format/option/load`` path (the Spark SQL paper's uniform source
  interface), so each is a ``Connector`` data row: the format, the
  options built from (path, table), the defaults a user option may
  override, and the package the gate error names. Connector jars are
  not bundled in every deployment; a missing one raises a
  NotImplementedError naming the package, like the excel reader's
  openpyxl gate. Pushdown is the connector's: JDBC-style sources show
  PushedFilters in the scan node, the same division of labor as
  Drill's JdbcPushDownFilter.
- JDBC keeps its own reader for Spark's partitioned scan
  (``partition_column``/``num_partitions`` become parallel range
  queries; a single-partition JDBC read is a driver-side bottleneck at
  100 TB). Hive resolves through the session catalog; OpenTSDB and
  remote Drill speak JSON REST with no jar, and so does the http
  plugin (``readers/http.py``); Google Sheets gates on OAuth
  credentials before its connector.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from drill_spark.readers.http import read_http


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    ws_options: dict | None = None,
    query_options: dict | None = None,
) -> DataFrame:
    """Read one table (or a ``(select ...) t`` pushdown subquery) from a
    JDBC workspace. Options recognized (Drill's plugin config analogs):
    driver, user, password, partition_column/lower_bound/upper_bound/
    num_partitions (parallel scan), fetchsize."""
    opts = {**(ws_options or {}), **(query_options or {})}
    opts.pop("type", None)
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    # normalize Drill-ish snake_case names onto Spark's JDBC option names
    renames = {
        "partition_column": "partitionColumn",
        "lower_bound": "lowerBound",
        "upper_bound": "upperBound",
        "num_partitions": "numPartitions",
    }
    for k, v in opts.items():
        reader = reader.option(renames.get(k, k), v)
    try:
        return reader.load()
    except Exception as e:
        if "No suitable driver" in str(e) or "ClassNotFoundException" in str(e):
            raise NotImplementedError(
                f"JDBC driver for {url!r} is not on the Spark classpath; "
                "pass driver=<class> and add the jar via spark.jars"
            ) from e
        raise


def read_hive_table(
    spark: SparkSession,
    database: str,
    table: str,
    ws_options: dict | None = None,
    query_options: dict | None = None,
) -> DataFrame:
    """Resolve a table through the session's Hive catalog — the
    reference's hive storage plugin semantics (contrib/storage-hive/core
    HiveStoragePlugin.java: metastore databases as schemas, tables
    planned through HiveMetadataProvider; Spark's HiveExternalCatalog
    reads the same metastore, and parquet/orc-backed Hive tables get
    Spark's native vectorized scan via convertMetastoreParquet/Orc).
    ``table`` is ``tbl`` (resolved in ``database``) or ``db.tbl``.
    Requires a hive-enabled session — gated with a naming error like
    the connector workspaces, because catalogImplementation is a
    static conf fixed at the first session build."""
    impl = spark.conf.get("spark.sql.catalogImplementation", "in-memory")
    if impl != "hive":
        raise NotImplementedError(
            "this SparkSession was built without the Hive catalog "
            "(spark.sql.catalogImplementation="
            f"{impl!r}); construct the engine session with "
            "drill_spark.session.get_spark(hive=True) or SPARK_GRAFT_HIVE=1 "
            "to enable hive.<db>.<table> resolution"
        )
    qual = table if "." in table else (f"{database}.{table}" if database else table)
    return spark.table(".".join(f"`{p}`" for p in qual.split(".")))


def _gate(e: Exception, source: str, package: str, plugin: str):
    msg = str(e)
    if (f"Failed to find data source: {source}" in msg
            or "ClassNotFoundException" in msg
            or "Could not load" in msg):
        raise NotImplementedError(
            f"the {plugin} connector jar is not bundled in this deployment; "
            f"add {package} to spark.jars.packages to enable {plugin} "
            "workspaces"
        ) from e
    raise e


@dataclass(frozen=True)
class Connector:
    """A storage plugin read through a Spark connector. ``fixed`` builds
    the options that address the table from (workspace path, table
    name); ``defaults`` are options a workspace or query option may
    override; ``package`` is the artifact the missing-jar error names."""

    format: str
    fixed: Callable[[str, str], dict]
    package: str
    defaults: dict = field(default_factory=dict)


def _read_connector(
    spark: SparkSession,
    kind: str,
    conn: Connector,
    path: str,
    table: str,
    ws_options: dict | None = None,
    query_options: dict | None = None,
) -> DataFrame:
    fixed = conn.fixed(path, table)
    opts = {**conn.defaults, **(ws_options or {}), **(query_options or {})}
    opts.pop("type", None)
    reader = spark.read.format(conn.format)
    # user options after the fixed ones, so they win
    for k, v in (*fixed.items(), *opts.items()):
        reader = reader.option(k, v)
    try:
        return reader.load()
    except Exception as e:
        _gate(e, conn.format, conn.package, kind)


def _split(table: str, kind: str, shape: str, keys: tuple[str, str]) -> dict:
    """A two-part ``a.b`` table name as the two options ``keys``."""
    head, _, tail = table.partition(".")
    if not tail:
        raise ValueError(f"{kind} table must be {shape}, got {table!r}")
    return dict(zip(keys, (head, tail)))


def read_opentsdb_metric(
    spark: SparkSession,
    base_url: str,
    table: str,
    ws_options: dict | None = None,
    query_options: dict | None = None,
) -> DataFrame:
    """OpenTSDB storage plugin — REAL implementation (contrib/
    storage-opentsdb Schema.java / OpenTSDBGroupScan: metrics as
    tables, time-range + aggregator pushed into /api/query). OpenTSDB
    speaks plain JSON REST, so no connector jar is needed: the driver
    POSTs the query (endpoints have no splits, exactly like the
    reference's and our http plugin), and the per-timestamp datapoints
    distribute as (metric, tags map, ts, value) rows.

    ``table`` is the metric name; options: ``start`` (default
    ``1h-ago``), ``end``, ``aggregator`` (default ``sum``), ``downsample``."""
    import json as _json
    import urllib.request

    opts = {**(ws_options or {}), **(query_options or {})}
    sub = {"aggregator": opts.get("aggregator", "sum"), "metric": table}
    if opts.get("downsample"):
        sub["downsample"] = opts["downsample"]
    body = {"start": opts.get("start", "1h-ago"), "queries": [sub]}
    if opts.get("end"):
        body["end"] = opts["end"]
    req = urllib.request.Request(
        base_url.rstrip("/") + "/api/query",
        data=_json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=30) as resp:
        results = _json.loads(resp.read())
    rows = []
    for series in results:
        metric = series.get("metric", table)
        tags = series.get("tags") or {}
        for ts, val in sorted((series.get("dps") or {}).items()):
            rows.append({"metric": metric, "tags": tags,
                         "ts": int(ts), "val": float(val)})
    # Explicit schema: tags is always map<string,string> (not an
    # inferred struct of whichever keys this response happened to
    # carry), and zero datapoints yields an EMPTY TYPED result — a
    # schemaless json read of no rows would produce zero columns and
    # break every downstream select.
    schema = T.StructType([
        T.StructField("metric", T.StringType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("ts", T.LongType()),
        T.StructField("val", T.DoubleType()),
    ])
    lines = [_json.dumps(r) for r in rows]
    if not lines:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(
        spark.sparkContext.parallelize(lines, max(1, len(lines) // 5000 + 1)))



def read_googlesheets_tab(
    spark: SparkSession,
    spreadsheet_id: str,
    table: str,
    ws_options: dict | None = None,
    query_options: dict | None = None,
) -> DataFrame:
    """Google Sheets storage plugin analog (contrib/storage-googlesheets:
    tabs as tables via the Sheets API v4 with OAuth). Reads go through
    the spark-google-spreadsheets data source; gated on BOTH the
    connector jar and the OAuth credential files the reference's plugin
    config carries (clientID/clientSecret/refresh token)."""
    opts = {**(ws_options or {}), **(query_options or {})}
    opts.pop("type", None)
    if not opts.get("credentialsPath"):
        raise NotImplementedError(
            "googlesheets workspaces need OAuth credentials "
            "(credentialsPath option -> a Google service-account json), "
            "matching the reference plugin's clientID/clientSecret config"
        )
    reader = (
        spark.read.format("com.github.potix2.spark.google.spreadsheets")
        .option("serviceAccountId", opts.get("serviceAccountId", ""))
        .option("credentialPath", opts["credentialsPath"])
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    try:
        return reader.load(f"{spreadsheet_id}/{table}")
    except Exception as e:
        _gate(e, "com.github.potix2.spark.google.spreadsheets",
              "com.github.potix2:spark-google-spreadsheets", "googlesheets")


# Drill type name (REST metadata) → Spark type for the remote-drill
# client. Complex types (ARRAY/MAP) fall back to JSON schema inference.
_DRILL_TO_SPARK = {
    "VARCHAR": T.StringType(), "BIGINT": T.LongType(), "INT": T.IntegerType(),
    "SMALLINT": T.ShortType(), "TINYINT": T.ByteType(),
    "FLOAT8": T.DoubleType(), "FLOAT4": T.FloatType(),
    "BIT": T.BooleanType(), "DATE": T.DateType(),
    "TIMESTAMP": T.TimestampType(), "TIME": T.StringType(),
    "VARBINARY": T.BinaryType(),
}


def _drill_rest_schema(columns, metadata):
    """Typed schema from the reference's QueryResult.metadata strings;
    None when any column is complex (→ JSON inference)."""
    import re

    if not metadata or len(metadata) != len(columns):
        return None
    fields = []
    for name, m in zip(columns, metadata):
        m = m.strip().upper()
        dec = re.match(r"VARDECIMAL\((\d+),\s*(\d+)\)", m)
        if dec:
            dt = T.DecimalType(int(dec.group(1)), int(dec.group(2)))
        else:
            dt = _DRILL_TO_SPARK.get(m.split("(")[0])
        if dt is None:
            return None
        fields.append(T.StructField(name, dt))
    return T.StructType(fields)


def read_drill_query(
    spark: SparkSession,
    base_url: str,
    sql: str,
    auth: tuple | None = None,
    auto_limit: int | None = None,
    timeout: float = 600.0,
) -> DataFrame:
    """Drill storage plugin — REAL implementation of the reference's
    drill-on-drill connector (contrib/storage-drill/.../
    DrillStoragePlugin.java, DrillScanSpec.java: a query delegated
    verbatim to a REMOTE Drill cluster), speaking the REST protocol
    (server/rest/RestQueryRunner.java) instead of the native RPC —
    which our own server.py serves, so the two ends interoperate.

    The ENTIRE SQL ships to the remote engine — complete pushdown by
    construction, exactly the reference's model (the remote plans and
    executes; we read its Screen output). The result set is the
    remote's to bound (``auto_limit`` mirrors the REST autoLimit); at
    100 TB the remote does the heavy lifting and this reader only
    transports the final rows, the same shape as the reference's
    DrillRecordReader draining result batches.

    The typed schema is rebuilt from the reply's ``metadata`` type
    names (so ZERO-row results stay fully typed); complex columns fall
    back to JSON inference over the returned rows.
    """
    import base64
    import json as _json
    import urllib.request

    body = {"queryType": "SQL", "query": sql}
    if auto_limit is not None:
        body["autoLimit"] = int(auto_limit)
    headers = {"Content-Type": "application/json"}
    if auth:
        tok = base64.b64encode(f"{auth[0]}:{auth[1]}".encode()).decode()
        headers["Authorization"] = f"Basic {tok}"
    req = urllib.request.Request(
        base_url.rstrip("/") + "/query.json",
        data=_json.dumps(body).encode(), headers=headers,
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            payload = _json.loads(resp.read())
    except urllib.error.HTTPError as e:
        try:
            payload = _json.loads(e.read())
        except Exception:
            raise RuntimeError(f"remote drill at {base_url}: HTTP {e.code}")
    if payload.get("queryState") != "COMPLETED":
        raise RuntimeError(
            "remote drill query FAILED: "
            + str(payload.get("errorMessage", payload))
        )
    # a silently capped reply must never pass for the full result: the
    # server caps at its default autoLimit when the client sends none
    attempted = payload.get("attemptedAutoLimit")
    capped = payload.get("truncated")
    if capped is None and attempted:  # older servers: heuristic
        capped = payload.get("rowCount") == attempted
    if capped and auto_limit is None:
        raise RuntimeError(
            f"remote drill truncated the result at {attempted} rows "
            f"(its default autoLimit); pass autoLimit => '0' to fetch "
            f"everything, a positive cap to accept truncation, or push "
            f"the aggregation to the remote via query => '...'")
    cols = list(payload.get("columns") or [])
    rows = payload.get("rows") or []
    schema = _drill_rest_schema(cols, payload.get("metadata"))
    lines = [_json.dumps(r) for r in rows]
    if schema is not None:
        if not lines:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).json(
            spark.sparkContext.parallelize(
                lines, max(1, len(lines) // 5000 + 1)))
    if not lines:
        # complex metadata + zero rows: all we know are the names
        return spark.createDataFrame(
            [], T.StructType([T.StructField(c, T.StringType()) for c in cols]))
    return spark.read.json(
        spark.sparkContext.parallelize(lines, max(1, len(lines) // 5000 + 1)))


def read_drill_table(
    spark: SparkSession,
    base_url: str,
    table: str,
    ws_options: dict | None = None,
    query_options: dict | None = None,
) -> DataFrame:
    """Workspace face of the drill plugin: ``drill_ws.`table``` scans a
    remote table (``select * from <table>`` on the remote — its own
    planner prunes/pushes from there), or pass ``query => '...'`` to
    delegate arbitrary SQL (the reference's DrillScanSpec carries
    exactly such a serialized query)."""
    opts = {**(ws_options or {}), **(query_options or {})}
    sql = opts.get("query") or f"select * from {table}"
    auth = None
    if opts.get("user") is not None:
        auth = (opts.get("user"), opts.get("password", ""))
    raw_limit = opts.get("autoLimit")
    return read_drill_query(
        spark, base_url, sql, auth=auth,
        auto_limit=int(raw_limit) if raw_limit is not None else None,
        timeout=float(opts.get("timeout", 600.0)))


def read_http_table(
    spark: SparkSession,
    base_url: str,
    table: str,
    ws_options: dict | None = None,
    query_options: dict | None = None,
) -> DataFrame:
    """Workspace face of the http plugin: the endpoint is the workspace
    base url followed by the table name (the built-in ``http``/``https``
    workspaces have an empty base, so their tables are full urls).
    Options: dataPath (descend into the reply), pageParam + maxPages
    (pagination); snake_case spellings are accepted too."""
    opts = {**(ws_options or {}), **(query_options or {})}
    return read_http(
        spark,
        base_url + table,
        data_path=opts.get("dataPath", opts.get("data_path")),
        page_param=opts.get("pageParam", opts.get("page_param")),
        max_pages=int(opts.get("maxPages", opts.get("max_pages", 1))),
    )


# Storage plugin table (Drill's StoragePluginRegistry): workspace kind
# -> reader. A reader takes (spark, workspace path, table, workspace
# options, query options); a Connector row is read by _read_connector.
# The comment on each row names the reference plugin and what the
# workspace path holds.
PLUGINS: dict[str, Connector | Callable[..., DataFrame]] = {
    # contrib/storage-jdbc; path: JDBC url
    "jdbc": read_jdbc_table,
    # contrib/storage-hive; path: default metastore database
    "hive": read_hive_table,
    # contrib/storage-opentsdb; path: REST base url
    "opentsdb": read_opentsdb_metric,
    # contrib/storage-googlesheets; path: spreadsheet id
    "googlesheets": read_googlesheets_tab,
    # contrib/storage-drill; path: remote REST base url
    "drill": read_drill_table,
    # contrib/storage-http; path: base url prefixed to the table name
    "http": read_http_table,
    # contrib/storage-kafka; path: bootstrap servers; a topic read as a
    # batch table (earliest..latest) with the connector's metadata columns
    "kafka": Connector(
        "kafka",
        lambda path, t: {"kafka.bootstrap.servers": path, "subscribe": t},
        "org.apache.spark:spark-sql-kafka-0-10",
        {"startingOffsets": "earliest", "endingOffsets": "latest"}),
    # contrib/storage-mongo; path: connection uri; table: db.collection
    "mongo": Connector(
        "mongodb",
        lambda path, t: {"connection.uri": path, **_split(
            t, "mongo", "db.collection", ("database", "collection"))},
        "org.mongodb.spark:mongo-spark-connector"),
    # contrib/storage-elasticsearch; path: nodes; table: index
    "elasticsearch": Connector(
        "org.elasticsearch.spark.sql",
        lambda path, t: {"es.nodes": path, "es.resource": t},
        "org.elasticsearch:elasticsearch-spark-30",
        {"pushdown": "true"}),
    # contrib/storage-cassandra; path: contact points; table: keyspace.table
    "cassandra": Connector(
        "org.apache.spark.sql.cassandra",
        lambda path, t: {"spark.cassandra.connection.host": path, **_split(
            t, "cassandra", "keyspace.table", ("keyspace", "table"))},
        "com.datastax.spark:spark-cassandra-connector"),
    # contrib/storage-hbase; path: zookeeper quorum; the column mapping
    # (hbase.columns.mapping) comes from options
    "hbase": Connector(
        "org.apache.hadoop.hbase.spark",
        lambda path, t: {"hbase.zookeeper.quorum": path, "hbase.table": t},
        "org.apache.hbase.connectors.spark:hbase-spark"),
    # contrib/storage-druid; path: broker url, read through its Avatica
    # JDBC endpoint with Spark's JDBC source
    "druid": Connector(
        "jdbc",
        lambda path, t: {
            "url": f"jdbc:avatica:remote:url={path.rstrip('/')}/druid/v2/sql/avatica/",
            "dbtable": t,
            "driver": "org.apache.calcite.avatica.remote.Driver"},
        "org.apache.calcite.avatica:avatica-core"),
    # contrib/storage-splunk; path: connection url; table: index
    "splunk": Connector(
        "splunk",
        lambda path, t: {"url": path, "index": t},
        "com.splunk.spark:splunk-spark"),
    # contrib/storage-kudu; path: masters
    "kudu": Connector(
        "kudu",
        lambda path, t: {"kudu.master": path, "kudu.table": t},
        "org.apache.kudu:kudu-spark3"),
    # contrib/storage-phoenix; path: zookeeper url
    "phoenix": Connector(
        "phoenix",
        lambda path, t: {"zkUrl": path, "table": t},
        "org.apache.phoenix:phoenix-spark"),
    # contrib/format-maprdb; path unused; the connector ships only with
    # the MapR (HPE Ezmeral) platform
    "maprdb": Connector(
        "com.mapr.db.spark.sql",
        lambda path, t: {"tableName": t},
        "com.mapr.db:maprdb-spark (MapR/Ezmeral platform only)"),
}


def read_plugin(
    spark: SparkSession,
    kind: str,
    path: str,
    table: str,
    ws_options: dict | None = None,
    query_options: dict | None = None,
) -> DataFrame:
    """Read ``table`` from a workspace of storage ``kind`` (a PLUGINS key)."""
    plugin = PLUGINS[kind]
    if isinstance(plugin, Connector):
        return _read_connector(spark, kind, plugin, path, table, ws_options, query_options)
    return plugin(spark, path, table, ws_options, query_options)
