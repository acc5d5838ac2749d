"""Drill SQL front end: a light pre-rewriter in front of ``spark.sql``.

Drill parses SQL with Calcite plus grammar extensions
(exec/java-exec/src/main/codegen/includes/parserImpls.ftl): backtick
path-as-table names (``dfs.`/data/x.json```), ALTER SESSION SET, SHOW
FILES, table functions with reader options
(store/table/function/WithOptionsTableMacro.java). Catalyst's ANTLR
grammar covers standard SQL; this module translates the Drill-isms and
delegates everything else untouched — **no Catalyst fork**.

Rewrites performed:
- ``<workspace>.`<path>``` table refs  → read the file(s), register a
  temp view, substitute the view name. Format chosen by file suffix or
  the workspace default (schema-on-read: ScanBatch.java:73 analog is
  Spark's reader inference).
- ``table(<ws>.`p`(<k> => '<v>', ...))`` table functions → reader options
  (TestSelectWithOption.java semantics).
- ``ALTER SESSION|SYSTEM SET `opt` = val`` → DrillSession.set_option.
- ``SHOW FILES [IN <ws>]`` / ``SHOW FILES FROM <path>`` → a DataFrame of
  the directory listing (store/ischema analog).
- ``RESET `opt``` / ``SET`` passthrough.
- ``USE <ws>`` → session default workspace (parserImpls.ftl:135).
- ``SHOW SCHEMAS`` / ``SHOW DATABASES`` → workspace + catalog listing
  (parserImpls.ftl:42-110).
- ``SHOW TABLES`` → Spark catalog passthrough.
- ``DESCRIBE <table>`` → Spark passthrough (path tables rewritten first).
- ``CREATE TABLE <ws>.`path` AS SELECT ...`` (CTAS,
  CreateTableHandler.java) → ``df.write`` to the workspace path.
- ``DROP TABLE [IF EXISTS] <ws>.`path``` → recursive delete within a
  *writable* workspace only.
- ``CREATE [OR REPLACE] VIEW name AS ...`` → Spark temp view
  (ViewHandler.java; Drill stores views as .view.drill JSON — ours live
  in the Spark temp catalog).
- ``CREATE/DROP [PUBLIC] ALIAS`` / ``SHOW ALIASES`` → session alias
  registry, resolved textually before table lookup
  (CreateAliasHandler.java; docs/dev/Aliases.md).
- ``REFRESH TABLE METADATA <t>`` → ``spark.catalog.refreshByPath``
  (parserImpls.ftl:556-579 — parquet metadata cache invalidation).
- ``CREATE/DROP MATERIALIZED VIEW`` → materialize to parquet + view
  over it (MaterializedViewHandler.java; automatic query rewrite to
  matching MVs is out of scope, as in Drill it is experimental).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, Row

# ws.`/path` or ws.sub.`/path`  (workspace part without backticks)
_PATH_TABLE = re.compile(r"(?<![\w`])((?:\w+\.)+)`([^`]+)`")
# option names may carry hyphens (store.parquet.block-size et al.)
_ALTER_SET = re.compile(
    r"^\s*ALTER\s+(SESSION|SYSTEM)\s+SET\s+`?([\w.-]+)`?\s*=\s*'?([^'\s;]+)'?\s*;?\s*$",
    re.IGNORECASE,
)
_RESET = re.compile(r"^\s*(?:ALTER\s+SESSION\s+)?RESET\s+`?([\w.-]+)`?\s*;?\s*$", re.IGNORECASE)
_SHOW_FILES = re.compile(r"^\s*SHOW\s+FILES(?:\s+(?:IN|FROM)\s+(\S+))?\s*;?\s*$", re.IGNORECASE)
_SHOW_TABLES_WS = re.compile(
    r"^\s*SHOW\s+TABLES\s+(?:IN|FROM)\s+((?:dfs|s3|cp)(?:\.\w+)*)\s*;?\s*$",
    re.IGNORECASE)
# option values may be quoted strings containing ')' or ',' (e.g. a
# regex or a schema DDL) — consume quoted segments atomically
_TABLE_FN = re.compile(
    r"table\(\s*((?:\w+\.)+)`([^`]+)`\s*\(((?:'[^']*'|\"[^\"]*\"|[^)])*)\)\s*\)",
    re.IGNORECASE,
)
# a query, or EXPLAIN/DESCRIBE of one (after leading comments and
# parentheses): Spark analyzes it once and stores no SQL text that
# names the rewrite's temp views
_PLAIN_QUERY = re.compile(
    r"(?:\s|--[^\n]*|/\*.*?\*/|\()*(?:SELECT|WITH|VALUES|EXPLAIN|DESC|DESCRIBE)\b",
    re.IGNORECASE | re.DOTALL)
_USE = re.compile(r"^\s*USE\s+`?([\w.]+)`?\s*;?\s*$", re.IGNORECASE)
_SHOW_SCHEMAS = re.compile(r"^\s*SHOW\s+(?:SCHEMAS|DATABASES)\s*;?\s*$", re.IGNORECASE)
_DESCRIBE_SCHEMA = re.compile(r"^\s*DESCRIBE\s+SCHEMA\s+`?([\w.]+)`?\s*;?\s*$", re.IGNORECASE)
_CTAS = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(TEMPORARY\s+)?TABLE\s+((?:\w+\.)+)`([^`]+)`"
    r"(?:\s+PARTITION\s+BY\s*\(([^)]*)\))?\s+AS\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_TABLE = re.compile(
    r"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?((?:\w+\.)+)`([^`]+)`\s*;?\s*$", re.IGNORECASE
)
_CREATE_VIEW = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+((?:\w+\.)+)?`?([\w]+)`?\s+AS\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_VIEW = re.compile(
    r"^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?((?:\w+\.)+)?`?([\w]+)`?\s*;?\s*$", re.IGNORECASE
)
# Drill dynamic UDFs: CREATE FUNCTION USING JAR 'x.jar'
# (planner/sql/handlers/CreateFunctionHandler.java)
_CREATE_FN_JAR = re.compile(
    r"^\s*(CREATE|DROP)\s+FUNCTION\s+USING\s+JAR\s+'([^']+)'\s*;?\s*$", re.IGNORECASE
)
_INSERT_PATH = re.compile(
    r"^\s*INSERT\s+INTO\s+((?:\w+\.)+)`([^`]+)`\s+(.*)$", re.IGNORECASE | re.DOTALL
)
# OPTIMIZE / VACUUM — Delta table maintenance (compaction + orphan
# cleanup), the operational pair every lakehouse writer needs
_OPTIMIZE_PATH = re.compile(
    r"^\s*OPTIMIZE\s+((?:\w+\.)+)`([^`]+)`"
    r"(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*$", re.IGNORECASE
)
_VACUUM_PATH = re.compile(
    r"^\s*VACUUM\s+((?:\w+\.)+)`([^`]+)`(?:\s+RETAIN\s+(\d+)\s+HOURS)?"
    r"(\s+DRY\s+RUN)?\s*;?\s*$",
    re.IGNORECASE,
)
# RESTORE TABLE ws.`t` TO VERSION AS OF n | TO TIMESTAMP AS OF 'ts'
# (Delta's time-travel write; no Drill analog — read-mostly engine)
_RESTORE_PATH = re.compile(
    r"^\s*RESTORE\s+TABLE\s+((?:\w+\.)+)`([^`]+)`\s+TO\s+"
    r"(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')\s*;?\s*$",
    re.IGNORECASE,
)
# DESCRIBE HISTORY ws.`t` — the commit/snapshot audit listing
_DESCRIBE_HISTORY = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+((?:\w+\.)+)`([^`]+)`\s*;?\s*$", re.IGNORECASE
)
# DELETE FROM ws.`path` WHERE ... — row-level delete, routed to the
# table-format delete (delta deletion vectors / iceberg position
# deletes). The reference has no DELETE (read-mostly engine); lakehouse
# tables make it expressible without rewriting data files.
_DELETE_PATH = re.compile(
    r"^\s*DELETE\s+FROM\s+((?:\w+\.)+)`([^`]+)`\s+WHERE\s+(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_PATH = re.compile(
    r"^\s*UPDATE\s+((?:\w+\.)+)`([^`]+)`\s+SET\s+(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _split_where(tail: str) -> tuple[str, str]:
    """Split 'SET-items WHERE condition' at the first TOP-LEVEL WHERE
    keyword (quotes and parens respected — a WHERE inside a string
    literal or subexpression never splits)."""
    depth, q, i, n = 0, None, 0, len(tail)
    while i < n:
        ch = tail[i]
        if q:
            if ch == q:
                q = None
        elif ch in "'\"":
            q = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and tail[i:i + 5].upper() == "WHERE":
            before_ok = i == 0 or tail[i - 1].isspace()
            after_ok = i + 5 >= n or tail[i + 5].isspace()
            if before_ok and after_ok:
                return tail[:i].rstrip(), tail[i + 5:].strip()
        i += 1
    raise ValueError("UPDATE requires a WHERE clause")


def _paimon_pk_dml(spark, path: str, condition: str,
                   assignments: dict[str, str] | None) -> int:
    """DELETE / UPDATE on a Paimon primary-key table, expressed the
    LSM-native way: matched rows become a new commit of delete markers
    (row kind D) or updated copies (row kind I), and the reader's
    max-sequence merge applies them — no file is rewritten, which is
    exactly how PK tables absorb churn at scale."""
    from pyspark.sql import functions as F

    from drill_spark.readers.paimon import _load_schema, load_snapshot, read_paimon, write_paimon

    schema = _load_schema(path, load_snapshot(path).get("schemaId", 0))
    pk = schema.get("primaryKeys") or []
    if not pk:
        raise NotImplementedError(
            "DELETE/UPDATE on paimon needs a primary-key table "
            "(append tables are immutable — rewrite via CTAS)"
        )
    matched = read_paimon(spark, path).where(condition)
    if assignments:
        bad = [c for c in assignments if c in pk]
        if bad:
            raise ValueError(f"cannot UPDATE primary key column(s): {bad}")
        for col, expr in assignments.items():
            matched = matched.withColumn(col, F.expr(expr))
        out = matched.withColumn("__op", F.lit("I"))
    else:
        out = matched.withColumn("__op", F.lit("D"))
    n = out.count()
    if n:
        write_paimon(out, path, mode="append", primary_keys=pk, row_kind_col="__op")
    return n


def _split_top_level(clause: str) -> list[str]:
    """Split on top-level commas (parens and quotes respected)."""
    parts, depth, buf, q = [], 0, [], None
    for ch in clause:
        if q:
            if ch == q:
                q = None
        elif ch in "'\"":
            q = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    parts.append("".join(buf))
    return parts


def _split_set_clause(clause: str) -> dict[str, str]:
    """SET a = expr, b = expr — top-level comma split, then each item
    on its first '='."""
    out = {}
    for p in _split_top_level(clause):
        if "=" not in p:
            raise ValueError(f"bad SET item: {p!r}")
        col, _, expr = p.partition("=")
        out[col.strip().strip("`")] = expr.strip()
    return out


# MERGE INTO ws.`path` USING (<subquery>)|<table> [AS] src ON cond
#   [WHEN MATCHED THEN UPDATE SET ... | WHEN MATCHED THEN DELETE]
#   [WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs)]
_MERGE_PATH = re.compile(
    r"^\s*MERGE\s+INTO\s+((?:\w+\.)+)`([^`]+)`(?:\s+AS\s+t)?\s+USING\s+(.+?)\s+"
    r"(?:AS\s+)?src\s+ON\s+(.+?)"
    r"(?:\s+WHEN\s+MATCHED\s+THEN\s+(?:UPDATE\s+SET\s+(.+?)|(DELETE)))?"
    r"(?:\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s*\(([^)]*)\)\s*"
    r"VALUES\s*\((.+?)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# Drill aliases (planner/sql/handlers/CreateAliasHandler.java; PUBLIC =
# system-wide vs user scope — one session here, so scope is cosmetic)
_CREATE_ALIAS = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:PUBLIC\s+)?ALIAS\s+`?(\w+)`?\s+FOR\s+(?:TABLE\s+)?(.+?)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_ALIAS = re.compile(
    r"^\s*DROP\s+(?:PUBLIC\s+)?ALIAS\s+(IF\s+EXISTS\s+)?`?(\w+)`?\s*;?\s*$", re.IGNORECASE
)
_SHOW_ALIASES = re.compile(r"^\s*SHOW\s+ALIASES\s*;?\s*$", re.IGNORECASE)
# provided schema DDL (planner/sql/handlers/SchemaHandler.java): persist
# a column list for a (usually schema-less text) table directory
_CREATE_SCHEMA_FT = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?SCHEMA\s*\(([^)]*)\)\s*FOR\s+TABLE\s+"
    r"((?:\w+\.)+)`([^`]+)`\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_SCHEMA_FT = re.compile(
    r"^\s*DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?FOR\s+TABLE\s+((?:\w+\.)+)`([^`]+)`\s*;?\s*$",
    re.IGNORECASE,
)
SCHEMA_FILE = ".drill.schema"
# ANALYZE TABLE ... COMPUTE STATISTICS [SAMPLE n PERCENT]
# (planner/sql/handlers/AnalyzeTableHandler.java; artifact shape from
# planner/common/DrillStatsTable.java: rowcount + per-column ndv /
# non-null count / histogram buckets)
_ANALYZE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+((?:\w+\.)+)`([^`]+)`\s+COMPUTE\s+STATISTICS"
    r"(?:\s+SAMPLE\s+(\d+)\s+PERCENT)?\s*;?\s*$",
    re.IGNORECASE,
)
STATS_FILE = ".stats.drill"
# REFRESH TABLE METADATA (parserImpls.ftl:556-579 — rebuilds the parquet
# metadata cache; Spark analog: invalidate cached listings/footers)
_REFRESH_META = re.compile(
    r"^\s*REFRESH\s+TABLE\s+METADATA\s+(?:((?:\w+\.)+)`([^`]+)`|`?([\w./-]+)`?)\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_MV = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?\s+AS\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)
# CREATE VECTOR INDEX (net-new DDL over ops/vecindex.py — the
# similarity stack's build-once/probe-many surface)
_CREATE_VIDX = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VECTOR\s+INDEX\s+`?(\w+)`?\s+ON\s+"
    r"(.+?)\s*\(\s*`?(\w+)`?\s*\)\s*(?:WITH\s*\((.*?)\)\s*)?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_VIDX = re.compile(
    r"^\s*DROP\s+VECTOR\s+INDEX\s+(IF\s+EXISTS\s+)?`?(\w+)`?\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_MV = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?`?(\w+)`?\s*;?\s*$", re.IGNORECASE
)
_REFRESH_MV = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+`?(\w+)`?(\s+FULL)?\s*;?\s*$",
    re.IGNORECASE,
)
# the incrementally-maintainable MV shape: single source, optional
# WHERE, GROUP BY, and a select list of group columns + decomposable
# aggregates (COUNT/SUM/MIN/MAX)
_MV_SHAPE = re.compile(
    r"^\s*select\s+(?P<sel>.+?)\s+from\s+(?P<src>.+?)"
    r"(?:\s+where\s+(?P<where>.+?))?\s+group\s+by\s+(?P<grp>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MV_AGG_ITEM = re.compile(
    r"^(count|sum|min|max)\s*\(\s*(distinct\b)?\s*([^)]*?)\s*\)\s+as\s+`?(\w+)`?$",
    re.IGNORECASE,
)


def _parse_incr_mv(select: str):
    """Parse an MV definition into its incremental-merge recipe, or
    None when the shape isn't incrementally maintainable (the caller
    then keeps full-recompute-only semantics)."""
    m = _MV_SHAPE.match(select.strip())
    if not m:
        return None
    src = m.group("src").strip()
    # the source must be ONE bare table/path reference — a join,
    # subquery, table function, or aliased source means the appended
    # raw files are NOT the rows the select aggregates, and merging
    # them would silently corrupt the MV
    if (re.search(r"\s", src) or "(" in src
            or not re.match(r"^(?:[\w.]+|(?:[\w.]+\.)?`[^`]+`)$", src)):
        return None
    groups = [g.strip().strip("`") for g in m.group("grp").split(",")]
    items = [s.strip() for s in _split_top_level(m.group("sel"))]
    # (alias, merge agg kind, original agg kind, normalized arg) — the
    # last two feed the aggregate-rollup rewrite (_rollup_rewrite)
    merge: list[tuple[str, str, str, str]] = []
    for it in items:
        am = _MV_AGG_ITEM.match(it)
        if am:
            kind, distinct, arg, alias = am.groups()
            if distinct:
                return None  # COUNT(DISTINCT) isn't decomposable
            kind = kind.lower()
            merge.append(
                (alias, "sum" if kind in ("count", "sum") else kind,
                 kind, _norm_expr(arg, count_arg=kind == "count")))
        elif it.strip("`") in groups:
            col = it.strip("`")
            merge.append((col, "group", "group", _norm_expr(col)))
        else:
            return None
    # every GROUP BY column must ride in the select list and at least
    # one mergeable aggregate must exist, or the merge can't rebuild
    # the stored state
    sel_groups = {a for a, k, *_ in merge if k == "group"}
    if not set(groups) <= sel_groups:
        return None
    if not any(k != "group" for _, k, *_ in merge):
        return None
    return {
        "source": m.group("src").strip(),
        "sel": m.group("sel").strip(),
        "where": m.group("where"),
        "groups": groups,
        "merge": merge,
        "select": select,
    }


def _split_top_level(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out

_SUFFIX_FORMAT = {
    ".parquet": "parquet",
    ".json": "json",
    ".csv": "csv",
    ".tsv": "csv",
    ".psv": "csv",
    ".avro": "avro",
    ".pcap": "pcap",
    ".pcapng": "pcapng",
    ".xlsx": "excel",
    ".orc": "orc",
    ".xml": "xml",
    ".ltsv": "ltsv",
    ".shp": "shp",
    ".png": "image",
    ".jpg": "image",
    ".jpeg": "image",
    ".gif": "image",
    ".bmp": "image",
    ".sav": "spss",
    ".sas7bdat": "sas",
    ".h5": "hdf5",
    ".hdf5": "hdf5",
    ".pdf": "pdf",
    ".mdb": "msaccess",
    ".accdb": "msaccess",
    ".warc": "warc",
    ".warc.gz": "warc",
    ".wet": "wet",
    ".wet.gz": "wet",
    ".wat": "wat",
    ".wat.gz": "wat",
    ".arc": "arc",
    ".arc.gz": "arc",
}


def _infer_format(path: str, default: str, _depth: int = 3) -> str:
    for suf, fmt in _SUFFIX_FORMAT.items():
        if path.rstrip("/").endswith(suf):
            return fmt
    # directory: sniff for a recognizable file, descending into
    # partition subdirectories (Hive `k=v` layouts put data 1+ level down)
    if _depth and os.path.isdir(path):
        entries = sorted(os.listdir(path))
        # table-format markers first (DeltaFormatMatcher.java /
        # IcebergFormatMatcher.java detect directories, not suffixes)
        if "_delta_log" in entries:
            return "delta"
        if "snapshot" in entries and any(
            f.startswith("snapshot-") or f == "LATEST"
            for f in os.listdir(os.path.join(path, "snapshot"))
        ):
            return "paimon"
        if "metadata" in entries and any(
            f.endswith(".metadata.json")
            for f in os.listdir(os.path.join(path, "metadata"))
        ):
            return "iceberg"
        for f in entries:
            for suf, fmt in _SUFFIX_FORMAT.items():
                if f.endswith(suf):
                    return fmt
        for f in entries:
            sub = os.path.join(path, f)
            if os.path.isdir(sub):
                found = _infer_format(sub, "", _depth - 1)
                if found:
                    return found
    return default


def _resolve_input(session, ref: str) -> DataFrame:
    """Resolve a pipeline table-function input: a registered table/view
    name first, then a Drill-style `ws.relpath`, then a bare
    filesystem path — registered relations win so a same-named file in
    the server's CWD can never silently shadow the caller's view."""
    try:
        if session.spark.catalog.tableExists(ref):
            return session.spark.table(ref)
    except Exception:
        pass
    if "." in ref:
        ws, _, rest = ref.partition(".")
        if ws in session.workspaces:
            return _read_path(session, ws, rest.strip("`"))
    if os.path.exists(ref):
        from drill_spark.readers.files import read_auto

        return read_auto(session.spark, ref, _infer_format(ref, "parquet"),
                         {}, session)
    return session.spark.table(ref)


def _pipeline_table(session, op: str, opts: dict[str, str]) -> DataFrame:
    """SQL face for the training-data-pipeline operators:
    ``TABLE(pipeline.`<op>`(input => 'documents', ...))`` runs the
    corresponding ops/ builder and substitutes its result, the same
    rewrite-time mechanism format table functions use. Every option
    arrives as a string (Drill table-fn convention); numerics are cast
    here. Inputs name a registered view, a `ws.path`, or a plain path.
    """
    from pyspark.sql import functions as F

    o = dict(opts)
    name = op.strip("`").lower()

    def inp(key="input"):
        return _resolve_input(session, req(key))

    def req(key):
        v = o.get(key)
        if not v:
            raise ValueError(f"pipeline.{name}: missing option `{key}`")
        return v

    if name == "bm25":
        from drill_spark.ops.search import bm25_topk

        return bm25_topk(inp(), req("query").split(), k=int(o.get("k", "10")),
                         id_col=o.get("id", "doc_id"),
                         text_col=o.get("text", "text"))
    if name == "bm25_batch":
        from drill_spark.ops.search import bm25_topk_batch

        return bm25_topk_batch(inp(), inp("queries"),
                               k=int(o.get("k", "10")),
                               id_col=o.get("id", "doc_id"),
                               text_col=o.get("text", "text"))
    if name == "tfidf_keywords":
        from drill_spark.ops.search import tfidf_keywords

        return tfidf_keywords(inp(), top_n=int(o.get("top_n", "3")),
                              id_col=o.get("id", "doc_id"),
                              text_col=o.get("text", "text"))
    if name == "hybrid_search":
        from drill_spark.ops.search import hybrid_topk

        return hybrid_topk(inp("docs"), inp("vecs"), req("query").split(),
                           query_vec_id=int(req("vec_id")),
                           k=int(o.get("k", "10")),
                           pool=int(o.get("pool", "50")))
    if name == "fuzzy_join":
        from drill_spark.ops.fuzzy import fuzzy_join

        max_df = o.get("max_df")
        return fuzzy_join(inp("left"), inp("right"),
                          req("left_id"), req("left_col"),
                          req("right_id"), req("right_col"),
                          max_dist=int(o.get("max_dist", "2")),
                          max_df=int(max_df) if max_df else None)
    if name == "dedup_exact":
        from drill_spark.ops.dedup import exact_dedup

        return exact_dedup(inp(), o.get("id", "doc_id"),
                           o.get("text", "text"))
    if name == "line_dedup":
        from drill_spark.ops.text import line_dedup

        return line_dedup(inp(), id_col=o.get("id", "doc_id"),
                          text_col=o.get("text", "text"),
                          max_copies=int(o.get("max_copies", "1")),
                          min_chars=int(o.get("min_chars", "8")))
    if name == "group_split":
        from drill_spark.ops.pipeline import group_split

        return group_split(inp(), F.expr(req("group")),
                           o.get("id", "doc_id"))
    if name == "gap_fill":
        from drill_spark.ops.temporal import gap_fill_locf

        return gap_fill_locf(inp(), o.get("ts", "ts"),
                             o.get("key", "user_id"),
                             o.get("val", "value"),
                             unit=o.get("unit", "hour"))
    if name == "corpus_report":
        from drill_spark.ops.text import corpus_report

        return corpus_report(inp(), id_col=o.get("id", "doc_id"),
                             text_col=o.get("text", "text"),
                             strata_col=o.get("strata", "source"),
                             lang_col=o.get("lang", "lang"))
    if name == "triplet_mine":
        from drill_spark.ops.similarity import triplet_mine

        ids = [int(x) for x in o.get("ids", "0").split(",")]
        return triplet_mine(inp(), query_ids=ids,
                            id_col=o.get("id", "vec_id"),
                            vec_col=o.get("vec", "embedding"),
                            label_col=o.get("label", "label"))
    if name == "c4_clean":
        from drill_spark.ops.text import c4_clean

        bad = tuple(x for x in o.get("badwords", "").split(",") if x)
        return c4_clean(inp(), id_col=o.get("id", "doc_id"),
                        text_col=o.get("text", "text"),
                        min_words_per_line=int(o.get("min_words", "5")),
                        min_sentences=int(o.get("min_sentences", "3")),
                        badwords=bad)
    if name == "html_extract":
        from drill_spark.ops.text import html_extract

        return html_extract(inp(), html_col=o.get("html", "html"))
    if name == "heavy_hitters":
        from drill_spark.ops.sketch import heavy_hitters

        return heavy_hitters(inp(), o.get("col", "value"),
                             k=int(o.get("k", "50")))
    if name == "robots_filter":
        from drill_spark.ops.crawlpolicy import parse_robots, robots_filter

        rules_in = _resolve_input(session, req("rules"))
        if o.get("rules_are_text", "").lower() in ("1", "true", "yes"):
            rules_in = parse_robots(
                rules_in, o.get("robots", "robots"),
                o.get("domain", "domain"), agent=o.get("agent", "*"))
        return robots_filter(inp(), rules_in, url_col=o.get("url", "url"))
    if name == "pagerank":
        from drill_spark.ops.graph import pagerank

        return pagerank(inp(), src=o.get("src", "src"),
                        dst=o.get("dst", "dst"),
                        damping=float(o.get("damping", "0.85")),
                        iterations=int(o.get("iterations", "10")))
    if name == "vector_topk":
        from drill_spark.ops.vecindex import index_topk

        idx = req("index")
        path = session.vector_indexes.get(idx, idx)
        base = (_resolve_input(session, o["base"])
                if o.get("base") else None)
        return index_topk(
            session.spark, path, inp(), k=int(o.get("k", "10")),
            nprobe=int(o.get("nprobe", "3")),
            rerank=int(o["rerank"]) if o.get("rerank") else None,
            base=base)
    if name == "gopher_quality":
        from drill_spark.ops.text import gopher_quality

        return gopher_quality(inp(), id_col=o.get("id", "doc_id"),
                              text_col=o.get("text", "text"))
    if name == "script_profile":
        from drill_spark.ops.text import script_profile

        return script_profile(inp(), id_col=o.get("id", "doc_id"),
                              text_col=o.get("text", "text"))
    if name == "domain_stats":
        from drill_spark.ops.text import domain_stats

        block = tuple(x for x in o.get("blocklist", "").split(",") if x)
        return domain_stats(inp(), text_col=o.get("text", "text"),
                            url_col=o.get("url", "url"),
                            blocklist=block)
    if name == "dsir":
        from drill_spark.ops.pipeline import dsir_weights

        return dsir_weights(inp("raw"), inp("target"),
                            o.get("id", "doc_id"), o.get("text", "text"))
    if name == "pack_bins":
        from drill_spark.ops.pipeline import pack_bins

        ids = tuple(o.get("ids", "doc_id,chunk_id").split(","))
        return pack_bins(inp(), id_cols=ids,
                         tokens_col=o.get("tokens", "n_tokens"),
                         capacity=int(o.get("capacity", "2048")),
                         n_shards=int(o.get("shards", "64")))
    if name == "fixed_k_sample":
        from drill_spark.ops.pipeline import fixed_k_sample

        return fixed_k_sample(inp(), o.get("strata", "lang"),
                              o.get("id", "doc_id"), int(o.get("k", "10")))
    if name == "skew_profile":
        from drill_spark.ops.scale import skew_profile

        return skew_profile(inp(), req("key"), top=int(o.get("top", "5")))
    if name == "chat_validate":
        from drill_spark.ops.chat import validate_conversations

        return validate_conversations(inp(), id_col=o.get("id", "conv_id"),
                                      conv_col=o.get("turns", "turns"))
    if name == "chat_render":
        from drill_spark.ops.chat import render_chat

        return render_chat(inp(), id_col=o.get("id", "conv_id"),
                           conv_col=o.get("turns", "turns"))
    if name == "preference_pairs":
        from drill_spark.ops.chat import preference_pairs

        return preference_pairs(inp(), prompt_col=o.get("prompt", "prompt_id"),
                                response_col=o.get("response", "response"),
                                score_col=o.get("score", "score"))
    if name == "sessionize":
        from drill_spark.ops.temporal import sessionize

        return sessionize(inp(), o.get("ts", "ts"), o.get("key", "user_id"),
                          gap_seconds=float(o.get("gap_seconds", "1800")),
                          order_col=o.get("order"))
    if name == "funnel":
        from drill_spark.ops.temporal import funnel

        within = o.get("within_seconds")
        return funnel(inp(), o.get("ts", "ts"), o.get("key", "user_id"),
                      o.get("type", "event_type"), req("steps").split(","),
                      within_seconds=float(within) if within else None)
    if name == "retention":
        from drill_spark.ops.temporal import retention

        return retention(inp(), o.get("ts", "ts"), o.get("key", "user_id"),
                         unit=o.get("unit", "week"))
    if name == "temperature_sample":
        from drill_spark.ops.pipeline import temperature_sample

        return temperature_sample(inp(), o.get("strata", "lang"),
                                  o.get("id", "doc_id"),
                                  alpha=float(o.get("alpha", "0.5")),
                                  budget_frac=float(o.get("budget", "0.5")))
    if name == "weighted_sample":
        from drill_spark.ops.pipeline import weighted_sample

        return weighted_sample(inp(), o.get("id", "doc_id"),
                               o.get("weight", "n_chars"),
                               int(o.get("k", "100")))
    if name == "luhn_scan":
        from drill_spark.ops.pipeline import luhn_scan

        return luhn_scan(inp(), o.get("id", "doc_id"),
                         o.get("text", "text"))
    if name == "normalize_unicode":
        from drill_spark.ops.text import normalize_unicode

        return normalize_unicode(inp(), id_col=o.get("id", "doc_id"),
                                 text_col=o.get("text", "text"),
                                 form=o.get("form", "NFC"))
    if name == "maxsim":
        from drill_spark.ops.search import maxsim_topk

        return maxsim_topk(inp(), req("query").split(),
                           k=int(o.get("k", "10")),
                           id_col=o.get("id", "doc_id"),
                           text_col=o.get("text", "text"))
    if name == "mad_outliers":
        from drill_spark.ops.scale import mad_outliers

        return mad_outliers(inp(), o.get("key", "user_id"),
                            o.get("val", "value"),
                            k=float(o.get("k", "3.0")))
    if name == "training_shards":
        from drill_spark.ops.pipeline import training_shards

        return training_shards(inp(), o.get("id", "doc_id"),
                               n_shards=int(o.get("shards", "1024")))
    if name == "crossmodal_topk":
        from drill_spark.ops.crossmodal import (
            crossmodal_topk, embed_captions, embed_images)

        return crossmodal_topk(
            embed_images(inp("images"), id_col=o.get("id", "doc_id"),
                         payload_col=o.get("payload", "payload")),
            embed_captions(inp("captions"), id_col=o.get("id", "doc_id"),
                           text_col=o.get("text", "text")),
            id_col=o.get("id", "doc_id"), k=int(o.get("k", "3")))
    if name == "crossmodal_align":
        from drill_spark.ops.crossmodal import alignment_filter

        return alignment_filter(
            inp("images"), inp("captions"),
            id_col=o.get("id", "doc_id"),
            threshold=float(o.get("threshold", "0.28")))
    def _weights(face: str):
        weights = {}
        for kv in req("weights").split(","):
            src_name, _, w = kv.rpartition(":")
            if not src_name:
                raise ValueError(
                    f"pipeline.{face}: weights entries are "
                    f"'<source>:<weight>', got {kv!r}")
            weights[src_name] = float(w)
        return weights

    if name == "mixture_build":
        from drill_spark.ops.pipeline import build_mixture

        tokens = None
        if o.get("tokenizer", "").lower() in ("bpe", "fixed_bpe"):
            from drill_spark.ops.bpe import FIXED_MERGES_V1, bpe_count_column

            tokens = bpe_count_column(o.get("text", "text"),
                                      FIXED_MERGES_V1)
        return build_mixture(inp(), o.get("source", "source"),
                             o.get("id", "doc_id"), o.get("text", "text"),
                             _weights("mixture_build"),
                             token_budget=int(o.get("budget", "1000000")),
                             tokens=tokens)
    if name == "curation_audit":
        from drill_spark.ops.pipeline import curation_audit

        return curation_audit(
            inp("corpus"), inp("benchmark"),
            o.get("id", "doc_id"), o.get("text", "text"),
            o.get("source", "source"), _weights("curation_audit"),
            token_budget=int(o.get("budget", "1000000")),
            min_words=int(o.get("min_words", "5")),
            max_word_len=float(o.get("max_word_len", "20.0")))
    if name == "quality_auc":
        from drill_spark.ops.mlmetrics import binary_auc

        return binary_auc(inp(), req("label"), req("score"),
                          score_decimals=int(o.get("decimals", "6")))
    if name == "calibration_bins":
        from drill_spark.ops.mlmetrics import calibration_bins

        return calibration_bins(inp(), req("label"), req("score"),
                                n_bins=int(o.get("bins", "10")),
                                score_decimals=int(o.get("decimals", "6")))
    if name == "brier_score":
        from drill_spark.ops.mlmetrics import brier_score

        return brier_score(inp(), req("label"), req("score"),
                           score_decimals=int(o.get("decimals", "6")))
    if name == "stratified_weighted_sample":
        from drill_spark.ops.pipeline import stratified_weighted_sample

        return stratified_weighted_sample(
            inp(), o.get("id", "doc_id"), req("weight"),
            k=int(o.get("k", "10")), strata_col=req("strata"))
    if name == "epoch_shuffle":
        from drill_spark.ops.pipeline import epoch_shuffle

        ep = o.get("epoch")
        return epoch_shuffle(inp(), o.get("id", "doc_id"),
                             epoch=int(ep) if ep else None,
                             n_shards=int(o.get("shards", "1024")))
    if name == "kmv_distinct":
        from drill_spark.ops.sketch import kmv_distinct

        return kmv_distinct(inp(), req("seg"), req("item"),
                            k=int(o.get("k", "64")))
    if name == "kmv_overlap":
        from drill_spark.ops.sketch import kmv_overlap

        return kmv_overlap(inp(), req("seg"), req("item"),
                           req("a"), req("b"), k=int(o.get("k", "64")))
    if name == "rolling_distinct":
        from drill_spark.ops.sketch import kmv_rolling_distinct

        return kmv_rolling_distinct(inp(), o.get("ts", "ts"), req("item"),
                                    k=int(o.get("k", "64")),
                                    n_days=int(o.get("days", "7")))
    if name == "snapshot_diff":
        from drill_spark.ops.dedup import snapshot_diff

        return snapshot_diff(inp("old"), inp("new"),
                             o.get("id", "doc_id"), o.get("text", "text"))
    if name == "cms_estimate":
        from drill_spark.ops.sketch import cms_build, cms_estimate

        w, d = int(o.get("width", "1024")), int(o.get("depth", "4"))
        c = req("col")
        sk = cms_build(inp(), c, width=w, depth=d)
        return cms_estimate(sk, _resolve_input(session, req("probes")),
                            c, width=w, depth=d)
    if name == "rolling_quantiles":
        from drill_spark.ops.sketch import rolling_quantiles

        return rolling_quantiles(
            inp(), o.get("ts", "ts"), req("val"),
            lo=float(o.get("lo", "0")), hi=float(req("hi")),
            n_bins=int(o.get("bins", "128")),
            n_days=int(o.get("days", "7")))
    if name == "skew_join":
        from drill_spark.ops.scale import auto_skew_join

        return auto_skew_join(
            inp("hot"), inp("small"), req("on").split(","),
            how=o.get("how", "inner"),
            skew_threshold=float(o.get("threshold", "4.0")),
            salt=int(o.get("salt", "16")))
    if name == "setsim_join":
        from drill_spark.ops.fuzzy import setsim_join

        ng = o.get("ngram")
        return setsim_join(
            inp(), o.get("id", "doc_id"), o.get("text", "text"),
            threshold=float(o.get("threshold", "0.7")),
            ngram=int(ng) if ng else None)
    if name == "setsim_tables":
        from drill_spark.ops.fuzzy import setsim_join_tables

        ng = o.get("ngram")
        return setsim_join_tables(
            inp("left"), inp("right"),
            o.get("left_id", "id_a"), o.get("left_text", "text_a"),
            o.get("right_id", "id_b"), o.get("right_text", "text_b"),
            threshold=float(o.get("threshold", "0.7")),
            ngram=int(ng) if ng else None)
    if name == "containment_join":
        from drill_spark.ops.fuzzy import containment_join

        ng = o.get("ngram")
        return containment_join(
            inp("probe"), inp("corpus"),
            o.get("probe_id", "qid"), o.get("probe_text", "qtext"),
            o.get("id", "doc_id"), o.get("text", "text"),
            threshold=float(o.get("threshold", "0.8")),
            ngram=int(ng) if ng else None)
    if name == "gopher_repetition":
        from drill_spark.ops.pipeline import gopher_repetition

        return gopher_repetition(
            inp(), o.get("id", "doc_id"), o.get("text", "text"))
    if name == "substr_dedup":
        from drill_spark.ops.substr import substr_dedup

        return substr_dedup(
            inp(), o.get("id", "doc_id"), o.get("text", "text"),
            min_tokens=int(o.get("min_tokens", "8")),
            score_col=o.get("score"),
            detect=o.get("detect", "exact"))
    if name == "substr_spans":
        from drill_spark.ops.substr import substr_duplicate_spans

        return substr_duplicate_spans(
            inp(), o.get("id", "doc_id"), o.get("text", "text"),
            min_tokens=int(o.get("min_tokens", "8")),
            detect=o.get("detect", "exact"))
    if name == "substr_decontaminate":
        from drill_spark.ops.substr import substr_decontaminate

        return substr_decontaminate(
            inp("corpus"), inp("benchmark"),
            o.get("id", "doc_id"), o.get("text", "text"),
            o.get("bench_id", "bench_id"), o.get("bench_text", "text"),
            min_tokens=int(o.get("min_tokens", "8")))
    if name == "substr_contam_report":
        from drill_spark.ops.substr import substr_contamination_report

        return substr_contamination_report(
            inp("benchmark"), inp("corpus"),
            o.get("bench_id", "bench_id"), o.get("bench_text", "text"),
            o.get("id", "doc_id"), o.get("text", "text"),
            min_tokens=int(o.get("min_tokens", "8")))
    if name == "chunk_tokens":
        from drill_spark.ops.pipeline import chunk_tokens

        st = o.get("stride")
        return chunk_tokens(
            inp(), o.get("id", "doc_id"), o.get("text", "text"),
            max_tokens=int(o.get("max_tokens", "32")),
            stride=int(st) if st else None)
    if name == "topk_per_key":
        from drill_spark.ops.scale import salted_topk

        return salted_topk(
            inp(), req("keys").split(","), req("order"),
            k=int(o.get("k", "10")),
            ascending=o.get("ascending", "false").lower() == "true",
            salt=int(o.get("salt", "16")))
    if name == "classify_lang":
        from drill_spark.ops.langid import classify_lang

        return classify_lang(
            inp(), o.get("text", "text"),
            out_col=o.get("out", "pred_lang"),
            keep_distance=o.get("distance", "false").lower() == "true")
    if name == "token_fertility":
        from drill_spark.ops.bpe import token_fertility

        return token_fertility(inp(), req("group"),
                               text_col=o.get("text", "text"))
    if name == "source_diversity":
        from drill_spark.ops.text import source_diversity

        return source_diversity(inp(), o.get("group", "source"),
                                text_col=o.get("text", "text"),
                                n=int(o.get("n", "3")))
    if name == "readability":
        from drill_spark.ops.text import readability

        return readability(inp(), o.get("id", "doc_id"),
                           o.get("text", "text"))
    if name == "encoding_qa":
        from drill_spark.ops.text import encoding_qa

        return encoding_qa(inp(), o.get("id", "doc_id"),
                           o.get("text", "text"))
    raise ValueError(
        f"unknown pipeline table function `{name}` — available: bm25, bm25_batch, "
        "tfidf_keywords, hybrid_search, fuzzy_join, dedup_exact, "
        "line_dedup, group_split, gap_fill, triplet_mine, corpus_report, "
        "c4_clean, gopher_quality, script_profile, domain_stats, dsir, "
        "pack_bins, fixed_k_sample, skew_profile, chat_validate, "
        "chat_render, preference_pairs, sessionize, funnel, retention, "
        "temperature_sample, weighted_sample, luhn_scan, "
        "normalize_unicode, maxsim, mad_outliers, training_shards, "
        "crossmodal_topk, crossmodal_align, mixture_build, epoch_shuffle, "
        "kmv_distinct, kmv_overlap, rolling_distinct, snapshot_diff, "
        "rolling_quantiles, cms_estimate, skew_join, topk_per_key, "
        "setsim_join, containment_join, setsim_tables, substr_dedup, "
        "substr_spans, substr_decontaminate, substr_contam_report, "
        "chunk_tokens, gopher_repetition, curation_audit, quality_auc, "
        "calibration_bins, brier_score, stratified_weighted_sample, "
        "classify_lang, token_fertility, source_diversity, readability, "
        "encoding_qa")


def _read_path(session, ws_name: str, rel_path: str, options: dict[str, str] | None = None) -> DataFrame:
    from drill_spark.readers.files import read_auto

    if ws_name.rstrip(".") in ("http", "https") or rel_path.startswith(("http://", "https://")):
        from drill_spark.readers.http import read_http

        opts = options or {}
        return read_http(
            session.spark,
            rel_path,
            data_path=opts.get("dataPath", opts.get("data_path")),
            page_param=opts.get("pageParam", opts.get("page_param")),
            max_pages=int(opts.get("maxPages", opts.get("max_pages", 1))),
        )
    ws = session.workspaces.get(ws_name.rstrip("."))
    if ws is not None and ws.kind == "jdbc":
        from drill_spark.readers.external import read_jdbc_table

        return read_jdbc_table(session.spark, ws.path, rel_path, ws.options, options)
    if ws is not None and ws.kind == "kafka":
        from drill_spark.readers.external import read_kafka_topic

        return read_kafka_topic(session.spark, ws.path, rel_path, ws.options, options)
    if ws is not None and ws.kind == "mongo":
        from drill_spark.readers.external import read_mongo_collection

        return read_mongo_collection(session.spark, ws.path, rel_path, ws.options, options)
    if ws is not None and ws.kind == "elasticsearch":
        from drill_spark.readers.external import read_elasticsearch_index

        return read_elasticsearch_index(session.spark, ws.path, rel_path, ws.options, options)
    if ws is not None and ws.kind == "hive":
        from drill_spark.readers.external import read_hive_table

        return read_hive_table(session.spark, ws.path, rel_path, ws.options, options)
    if ws is not None and ws.kind in ("cassandra", "hbase", "druid", "splunk",
                                      "kudu", "phoenix", "opentsdb",
                                      "googlesheets", "maprdb", "drill"):
        from drill_spark.readers import external as _ext

        fn = {"cassandra": _ext.read_cassandra_table,
              "hbase": _ext.read_hbase_table,
              "druid": _ext.read_druid_datasource,
              "splunk": _ext.read_splunk_index,
              "kudu": _ext.read_kudu_table,
              "phoenix": _ext.read_phoenix_table,
              "opentsdb": _ext.read_opentsdb_metric,
              "googlesheets": _ext.read_googlesheets_tab,
              "maprdb": _ext.read_maprdb_table,
              "drill": _ext.read_drill_table}[ws.kind]
        return fn(session.spark, ws.path, rel_path, ws.options, options)
    root = ws.path if ws else "/"
    default_fmt = ws.default_format if ws else "parquet"
    path = rel_path if os.path.isabs(rel_path) else os.path.join(root, rel_path)
    if path.endswith(".view.drill") or os.path.exists(path + ".view.drill"):
        # persisted view file (ViewHandler.java / dotdrill/): stored SQL
        # re-planned against the current session
        import json as _json

        vp = path if path.endswith(".view.drill") else path + ".view.drill"
        with open(vp) as f:
            view = _json.load(f)
        return session.spark.sql(rewrite(session, view["sql"]))
    fmt = (options or {}).get("type", _infer_format(path, default_fmt))
    opts = dict(options or {})
    sf = os.path.join(path, SCHEMA_FILE)
    if "schema" not in opts and os.path.isdir(path) and os.path.exists(sf):
        # provided schema persisted by CREATE SCHEMA ... FOR TABLE
        # (SchemaHandler.java .drill.schema analog): skip inference
        import json as _json

        with open(sf) as f:
            opts["schema"] = _json.load(f)["ddl"]
    return read_auto(session.spark, path, fmt, opts, session)


_TF_OPT = re.compile(r"`?(\w+)`?\s*=>\s*(?:'([^']*)'|\"([^\"]*)\"|([^,)\s]+))")


def _parse_tf_options(raw: str) -> dict[str, str]:
    """k => 'v' pairs; quoted values may contain commas (e.g. a provided
    schema DDL string)."""
    opts: dict[str, str] = {}
    for m in _TF_OPT.finditer(raw):
        k = m.group(1)
        v = next(g for g in m.groups()[1:] if g is not None)
        opts[k] = v
    return opts


# single-quoted string literals ('' escapes) and -- comments: segments an
# identifier substitution must never touch
_LITERAL_OR_COMMENT = re.compile(r"('(?:[^']|'')*')|(--[^\n]*)")


def _sub_outside_literals(pattern: re.Pattern, repl: str, query: str) -> str:
    """Apply pattern.sub only to the parts of the query that are not
    string literals or line comments."""
    parts: list[str] = []
    last = 0
    for m in _LITERAL_OR_COMMENT.finditer(query):
        parts.append(pattern.sub(repl, query[last : m.start()]))
        parts.append(m.group(0))
        last = m.end()
    parts.append(pattern.sub(repl, query[last:]))
    return "".join(parts)


def rewrite(session, query: str) -> str:
    """Rewrite Drill-isms into plain Spark SQL (registering temp views)."""

    # alias resolution first (CreateAliasHandler: aliases resolve before
    # table lookup) — standalone identifiers only, not `x.alias` parts,
    # and never inside string literals or comments
    for alias, target in getattr(session, "aliases", {}).items():
        pat = re.compile(rf"(?<![\w.`']){re.escape(alias)}(?![\w`])")
        query = _sub_outside_literals(pat, target, query)

    # convert_from/convert_to with literal encodings + sqltypeof ->
    # typed expressions (codec/type resolved at rewrite time like
    # Drill's planner)
    if re.search(
        r"convert_(?:from|to)\w*\s*\(|sqltypeof\s*\(|drilltypeof\s*\(|modeof\s*\("
        r"|aes_(?:en|de)crypt\s*\(|nearest_?date\s*\("
        r"|hll(?:_decode|_merge)?\s*\(|regr(?:slope|intercept)\s*\("
        r"|hash(?:32|64)(?:asdouble)?\s*\(|parse_user_agent\s*\("
        r"|canonicalize_url\s*\(",
        query,
        re.IGNORECASE,
    ):
        from drill_spark.functions import rewrite_convert_calls

        query = rewrite_convert_calls(query)

    def tf_sub(m: re.Match) -> str:
        ws, path, raw_opts = m.group(1), m.group(2), m.group(3)
        opts = _parse_tf_options(raw_opts)
        if ws.rstrip(".") == "pipeline":
            df = _pipeline_table(session, path, opts)
        else:
            df = _read_path(session, ws.rstrip("."), path, opts)
        view = session._fresh_view("tf")
        df.createOrReplaceTempView(view)
        return view

    query = _TABLE_FN.sub(tf_sub, query)

    def path_sub(m: re.Match) -> str:
        ws, path = m.group(1).rstrip("."), m.group(2)
        is_url = ws in ("http", "https") and path.startswith(("http://", "https://"))
        if ws not in session.workspaces and not os.path.exists(path) and not is_url:
            return m.group(0)  # not a known workspace — leave untouched
        df = _read_path(session, ws, path)
        view = session._fresh_view("path")
        df.createOrReplaceTempView(view)
        return view

    return _PATH_TABLE.sub(path_sub, query)


def _ok(spark, summary: str) -> DataFrame:
    return spark.createDataFrame([Row(ok=True, summary=summary)])


_DRILL_TO_SPARK_TYPE = {
    "INT": "int", "INTEGER": "int", "BIGINT": "bigint", "SMALLINT": "smallint",
    "TINYINT": "tinyint", "VARCHAR": "string", "CHAR": "string",
    "CHARACTER": "string", "DOUBLE": "double", "FLOAT": "float",
    "BOOLEAN": "boolean", "DATE": "date", "TIME": "string",
    "TIMESTAMP": "timestamp", "VARBINARY": "binary", "BINARY": "binary",
    "INTERVAL": "string",
}


def _drill_cols_to_spark_ddl(cols: str) -> str:
    """Drill column-list DDL (SchemaHandler.java) -> Spark schema DDL.
    Splits on top-level commas (DECIMAL(p,s) nests one) and maps the
    Drill type names; NOT NULL / format clauses are dropped — Spark's
    reader treats the schema as all-nullable."""
    out = []
    depth, cur, parts = 0, "", []
    for ch in cols:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(cur)
            cur = ""
        else:
            cur += ch
    if cur.strip():
        parts.append(cur)
    for part in parts:
        toks = part.strip().split()
        if len(toks) < 2:
            raise ValueError(f"bad schema column: {part!r}")
        name = toks[0].strip("`")
        typ = toks[1].upper()
        if typ.startswith("DECIMAL") or typ.startswith("NUMERIC"):
            spark_t = typ.lower().replace("numeric", "decimal")
        else:
            base = typ.split("(", 1)[0]
            spark_t = _DRILL_TO_SPARK_TYPE.get(base)
            if spark_t is None:
                raise ValueError(f"unsupported schema type {typ!r}")
        out.append(f"`{name}` {spark_t}")
    return ", ".join(out)


def _write_custom(df: DataFrame, path: str, fmt: str, part_cols: list[str], mode: str) -> None:
    """CTAS into a format backed by our native writers (avro OCF,
    delta transaction log, iceberg metadata tree, paimon snapshots)."""
    import shutil

    if os.path.exists(path):
        if mode != "overwrite":
            raise ValueError(f"table already exists: {path}")
        shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    if fmt == "avro":
        from drill_spark.readers.avro import write_avro

        if part_cols:
            raise NotImplementedError("PARTITION BY is not supported for avro CTAS")
        write_avro(df, path)
    elif fmt in ("delta", "deltalake"):
        from drill_spark.readers.delta import write_delta

        write_delta(df, path, partition_by=part_cols or None)
    elif fmt == "paimon":
        from drill_spark.readers.paimon import write_paimon

        if part_cols:
            raise NotImplementedError("PARTITION BY is not supported for paimon CTAS")
        write_paimon(df, path)
    elif fmt in ("warc", "wet", "wat"):
        from drill_spark.readers.warc import write_warc

        if part_cols:
            raise NotImplementedError(
                "PARTITION BY is not supported for warc CTAS")
        write_warc(df, path, record_type={
            "wet": "conversion", "wat": "metadata"}.get(fmt, "response"))
    else:
        from drill_spark.readers.iceberg import write_iceberg

        if part_cols:
            raise NotImplementedError("PARTITION BY is not supported for iceberg CTAS")
        write_iceberg(df, path)


def _writable_path(session, ws_name: str, rel_path: str) -> tuple[str, str]:
    """Resolve a CTAS/INSERT/DROP target inside a writable workspace."""
    ws = session.workspaces.get(ws_name)
    if ws is None:
        raise ValueError(f"unknown workspace: {ws_name}")
    if not ws.writable:
        raise ValueError(f"workspace {ws_name} is not writable (CreateTableHandler analog)")
    path = rel_path if os.path.isabs(rel_path) else os.path.join(ws.path, rel_path)
    # `store.format` session option overrides the workspace default
    # (ExecConstants OUTPUT_FORMAT_OPTION — Drill's CTAS output format)
    default_fmt = session.get_option("store.format", ws.default_format)
    fmt = _infer_format(path, default_fmt)
    return path, fmt


def execute(session, query: str) -> DataFrame:
    spark = session.spark

    m = _USE.match(query)
    if m:
        name = m.group(1)
        if name in session.workspaces:
            session.options["drill.default_workspace"] = name
            return _ok(spark, f"Default schema changed to [{name}]")
        return spark.sql(query)  # a Spark database name

    if _SHOW_SCHEMAS.match(query):
        from drill_spark.catalog import information_schema_schemata

        return information_schema_schemata(session)

    m = _DESCRIBE_SCHEMA.match(query)
    if m:
        # DescribeSchemaHandler analog: workspace properties as one row
        ws = session.workspaces.get(m.group(1))
        if ws is None:
            raise ValueError(f"unknown schema: {m.group(1)}")
        return spark.createDataFrame(
            [
                Row(
                    schema_name=ws.name,
                    location=ws.path,
                    default_format=ws.default_format,
                    writable=ws.writable,
                )
            ],
            "schema_name string, location string, default_format string, writable boolean",
        )

    m = _CTAS.match(query)
    if m:
        temporary, ws_name, rel_path, part_cols, select = (
            m.group(1),
            m.group(2).rstrip("."),
            m.group(3),
            m.group(4),
            m.group(5),
        )
        path, fmt = _writable_path(session, ws_name, rel_path)
        df = spark.sql(rewrite(session, select))
        mode = "overwrite" if re.match(r"\s*CREATE\s+OR\s+REPLACE", query, re.IGNORECASE) else "errorifexists"
        cols = [c.strip().strip("`") for c in (part_cols or "").split(",") if c.strip()]
        if fmt in ("avro", "delta", "deltalake", "iceberg", "paimon",
                   "warc", "wet", "wat"):
            # formats written by our native writers, not a JVM datasource
            _write_custom(df, path, fmt, cols, mode)
        else:
            writer = df.write.format(fmt).mode(mode)
            if cols:
                # CTAS PARTITION BY (CreateTableHandler.java) -> Hive-layout
                # directories; filters on partition columns prune at listing
                # time on readback (Drill's dir-pruning, natively)
                writer = writer.partitionBy(*cols)
            writer.save(path)
        if temporary:
            # session-scoped table (CreateTableHandler temporary path):
            # dropped by DrillSession.close()
            session.temp_tables.append(path)
        suffix = f" partitioned by ({part_cols})" if part_cols else ""
        return _ok(spark, f"created table {ws_name}.`{rel_path}` ({fmt}){suffix}")

    m = _INSERT_PATH.match(query)
    if m:
        import glob as _glob

        ws_name, rel_path, select = m.group(1).rstrip("."), m.group(2), m.group(3)
        path, fmt = _writable_path(session, ws_name, rel_path)
        df = spark.sql(rewrite(session, select))
        if fmt in ("delta", "deltalake") or os.path.isdir(os.path.join(path, "_delta_log")):
            from drill_spark.readers.delta import write_delta

            write_delta(df, path, mode="append")
        elif _glob.glob(os.path.join(_glob.escape(path), "metadata", "*.metadata.json")):
            from drill_spark.readers.iceberg import append_iceberg

            append_iceberg(df, path)
        else:
            df.write.format(fmt).mode("append").save(path)
        spark.catalog.refreshByPath(path)
        return _ok(spark, f"appended to {ws_name}.`{rel_path}`")

    m = _OPTIMIZE_PATH.match(query)
    if m:
        from drill_spark.readers.delta import optimize

        ws_name, rel_path = m.group(1).rstrip("."), m.group(2)
        zcols = [c.strip().strip("`") for c in m.group(3).split(",")] \
            if m.group(3) else None
        path, _ = _writable_path(session, ws_name, rel_path)
        stats = optimize(spark, path, zorder_by=zcols)
        spark.catalog.refreshByPath(path)
        return spark.createDataFrame([Row(ok=True, **stats)])

    m = _VACUUM_PATH.match(query)
    if m:
        from drill_spark.readers.delta import vacuum

        ws_name, rel_path, hours, dry = (
            m.group(1).rstrip("."), m.group(2), m.group(3), m.group(4))
        path, _ = _writable_path(session, ws_name, rel_path)
        gone = vacuum(spark, path,
                      retention_hours=float(hours) if hours else 168,
                      dry_run=bool(dry))
        return spark.createDataFrame(
            [Row(ok=True, n_removed=len(gone), dry_run=bool(dry))]
        )

    m = _DESCRIBE_HISTORY.match(query)
    if m:
        ws_name, rel_path = m.group(1).rstrip("."), m.group(2)
        ws = session.workspaces.get(ws_name)
        root = ws.path if ws else "/"
        path = rel_path if os.path.isabs(rel_path) else os.path.join(root, rel_path)
        if os.path.isdir(os.path.join(path, "_delta_log")):
            from drill_spark.readers.delta import describe_history

            return describe_history(spark, path)
        if os.path.isdir(os.path.join(path, "metadata")):
            from drill_spark.readers.iceberg import _table_metadata

            snaps = _table_metadata(path).get("snapshots") or []
            return spark.createDataFrame(
                [(int(s["snapshot-id"]), int(s.get("timestamp-ms", 0)),
                  (s.get("summary") or {}).get("operation"))
                 for s in snaps],
                "version long, timestamp_ms long, operation string",
            )
        raise ValueError(f"DESCRIBE HISTORY needs a delta or iceberg table: {path}")

    m = _RESTORE_PATH.match(query)
    if m:
        from drill_spark.readers.delta import restore_table

        ws_name, rel_path, ver, ts = (
            m.group(1).rstrip("."), m.group(2), m.group(3), m.group(4))
        path, _ = _writable_path(session, ws_name, rel_path)
        stats = restore_table(spark, path,
                              version=int(ver) if ver else None,
                              timestamp=ts)
        spark.catalog.refreshByPath(path)
        return spark.createDataFrame([Row(ok=True, **stats)])

    m = _MERGE_PATH.match(query)
    if m:
        import glob as _glob

        ws_name, rel_path, src_text, on_cond, set_clause, del_kw, ins_cols, ins_vals = (
            m.group(1).rstrip("."), m.group(2), m.group(3).strip(), m.group(4),
            m.group(5), m.group(6), m.group(7), m.group(8))
        path, _ = _writable_path(session, ws_name, rel_path)
        if os.path.isdir(os.path.join(path, "_delta_log")):
            from drill_spark.readers.delta import merge_into
        elif _glob.glob(os.path.join(_glob.escape(path), "metadata", "*.metadata.json")):
            from drill_spark.readers.iceberg import merge_into
        else:
            raise NotImplementedError("MERGE needs a delta or iceberg table")

        if src_text.startswith("(") and src_text.endswith(")"):
            source = spark.sql(rewrite(session, src_text[1:-1]))
        else:
            source = spark.sql(rewrite(session, f"select * from {src_text}"))
        insert_map = None
        if ins_cols is not None:
            cols = [c.strip().strip("`") for c in ins_cols.split(",")]
            vals = [v.strip() for v in _split_top_level(ins_vals)]
            if len(cols) != len(vals):
                raise ValueError("INSERT column/value count mismatch")
            insert_map = dict(zip(cols, vals))
        stats = merge_into(
            spark, path, source, on_cond.strip(),
            when_matched_update=_split_set_clause(set_clause) if set_clause else None,
            when_matched_delete=bool(del_kw),
            when_not_matched_insert=insert_map,
        )
        spark.catalog.refreshByPath(path)
        return spark.createDataFrame([Row(ok=True, **stats)])

    m = _UPDATE_PATH.match(query)
    if m:
        import glob as _glob

        ws_name, rel_path = m.group(1).rstrip("."), m.group(2)
        set_clause, cond = _split_where(m.group(3))
        path, _ = _writable_path(session, ws_name, rel_path)
        if os.path.isdir(os.path.join(path, "_delta_log")):
            from drill_spark.readers.delta import update_where

            n = update_where(spark, path, cond, _split_set_clause(set_clause))
        elif _glob.glob(os.path.join(_glob.escape(path), "metadata", "*.metadata.json")):
            from drill_spark.readers.iceberg import update_where

            n = update_where(spark, path, cond, _split_set_clause(set_clause))
        elif os.path.isdir(os.path.join(path, "snapshot")):
            n = _paimon_pk_dml(spark, path, cond, _split_set_clause(set_clause))
        else:
            raise NotImplementedError(
                "UPDATE needs a delta, iceberg or paimon-PK table "
                "(plain parquet: rewrite via CTAS)"
            )
        spark.catalog.refreshByPath(path)
        return spark.createDataFrame(
            [Row(ok=True, summary=f"updated {n} rows in {ws_name}.`{rel_path}`",
                 rows_updated=n)]
        )

    m = _DELETE_PATH.match(query)
    if m:
        import glob as _glob

        ws_name, rel_path, cond = m.group(1).rstrip("."), m.group(2), m.group(3)
        path, _ = _writable_path(session, ws_name, rel_path)
        if os.path.isdir(os.path.join(path, "_delta_log")):
            from drill_spark.readers.delta import delete_where

            n = delete_where(spark, path, cond)
        elif _glob.glob(os.path.join(_glob.escape(path), "metadata", "*.metadata.json")):
            from drill_spark.readers.iceberg import delete_where

            n = delete_where(spark, path, cond)
        elif os.path.isdir(os.path.join(path, "snapshot")):
            n = _paimon_pk_dml(spark, path, cond, None)
        else:
            raise NotImplementedError(
                "DELETE needs a delta, iceberg or paimon-PK table (plain parquet "
                "files are immutable — rewrite via CTAS instead)"
            )
        spark.catalog.refreshByPath(path)
        return spark.createDataFrame(
            [Row(ok=True, summary=f"deleted {n} rows from {ws_name}.`{rel_path}`",
                 rows_deleted=n)]
        )

    m = _DROP_TABLE.match(query)
    if m:
        if_exists, ws_name, rel_path = m.group(1), m.group(2).rstrip("."), m.group(3)
        path, _ = _writable_path(session, ws_name, rel_path)
        if not os.path.exists(path):
            if if_exists:
                return _ok(spark, f"table {rel_path} did not exist")
            raise ValueError(f"table not found: {ws_name}.`{rel_path}`")
        import shutil

        shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
        return _ok(spark, f"dropped table {ws_name}.`{rel_path}`")

    m = _CREATE_ALIAS.match(query)
    if m:
        alias, target = m.group(1), m.group(2)
        session.aliases[alias] = target
        return _ok(spark, f"alias {alias} -> {target}")

    m = _DROP_ALIAS.match(query)
    if m:
        if_exists, alias = m.group(1), m.group(2)
        if alias not in session.aliases and not if_exists:
            raise ValueError(f"alias not found: {alias}")
        session.aliases.pop(alias, None)
        return _ok(spark, f"alias {alias} dropped")

    if _SHOW_ALIASES.match(query):
        rows = [Row(alias=a, target=t) for a, t in sorted(session.aliases.items())]
        return (
            spark.createDataFrame(rows)
            if rows
            else spark.createDataFrame([], "alias string, target string")
        )

    m = _REFRESH_META.match(query)
    if m:
        if m.group(2):  # ws.`path` form
            ws = session.workspaces.get(m.group(1).rstrip("."))
            root = ws.path if ws else "/"
            path = m.group(2) if os.path.isabs(m.group(2)) else os.path.join(root, m.group(2))
        else:
            path = m.group(3)
        import glob as _glob

        if os.path.isdir(path) and _glob.glob(
                os.path.join(_glob.escape(path), "**", "*.parquet"),
                recursive=True) and not os.path.isdir(
                os.path.join(path, "_delta_log")) and not os.path.isdir(
                os.path.join(path, "metadata")):
            # plain parquet dir: write the .drill.parquet_metadata cache
            # (MetadataHandler.java; reads consult it to skip listing)
            from drill_spark.readers.files import write_parquet_metadata_cache

            cache = write_parquet_metadata_cache(path)
            spark.catalog.refreshByPath(path)
            return _ok(spark, f"metadata cache updated for {path}: "
                              f"{len(cache['files'])} files, "
                              f"{cache['total_rows']} rows")
        if os.path.exists(path):
            spark.catalog.refreshByPath(path)
            return _ok(spark, f"metadata refreshed for {path}")
        spark.catalog.refreshTable(path)
        return _ok(spark, f"metadata refreshed for table {path}")

    m = _CREATE_VIDX.match(query)
    if m:
        import shutil

        from drill_spark.ops.vecindex import build_vector_index

        or_replace, name, src, col, opts_raw = m.groups()
        if name in session.vector_indexes and not or_replace:
            raise ValueError(
                f"vector index already exists: {name} "
                "(use CREATE OR REPLACE VECTOR INDEX)")
        opts = dict(re.findall(r"(\w+)\s*=>?\s*'?([\w./-]+)'?",
                               opts_raw or ""))
        df = _resolve_input(session, src.strip().strip("`"))
        tmp_ws = session.workspaces.get("dfs.tmp")
        path = os.path.join(tmp_ws.path if tmp_ws else "/tmp",
                            "_vector_indexes", name)
        shutil.rmtree(path, ignore_errors=True)
        meta = build_vector_index(
            df, path, id_col=opts.get("id", "vec_id"), vec_col=col,
            n_cells=int(opts.get("cells", 8)),
            m=int(opts.get("m", 8)),
            n_codes=int(opts.get("codes", 16)))
        session.vector_indexes[name] = path
        return _ok(spark, f"vector index {name} at {path} "
                          f"({meta['rows']} vectors, "
                          f"{meta['n_cells']} cells)")

    m = _DROP_VIDX.match(query)
    if m:
        import shutil

        if_exists, name = m.groups()
        path = session.vector_indexes.pop(name, None)
        if path is None:
            if if_exists:
                return _ok(spark, f"vector index {name} did not exist")
            raise ValueError(f"vector index not found: {name}")
        shutil.rmtree(path, ignore_errors=True)
        return _ok(spark, f"vector index {name} dropped")

    m = _CREATE_MV.match(query)
    if m:
        or_replace, if_not_exists = m.group(1), m.group(2)
        name, select = m.group(3), m.group(4)
        if name in session.materialized:
            # reference syntax (docs/dev/MaterializedViews.md): plain
            # CREATE errors on an existing MV, IF NOT EXISTS no-ops,
            # OR REPLACE rebuilds
            if if_not_exists:
                return _ok(spark,
                           f"materialized view {name} already exists")
            if not or_replace:
                raise ValueError(
                    f"materialized view already exists: {name} "
                    "(use CREATE OR REPLACE MATERIALIZED VIEW)")
        tmp_ws = session.workspaces.get("dfs.tmp")
        path = os.path.join(tmp_ws.path if tmp_ws else "/tmp", "_materialized", name)
        df = spark.sql(rewrite(session, select))
        df.write.mode("overwrite").parquet(path)
        spark.read.parquet(path).createOrReplaceTempView(name)
        session.materialized[name] = path
        # memoize the definition for automatic rewrite (DefaultSqlHandler
        # .java:209 / docs/dev/MaterializedViews.md): normalized text for
        # the fast path, canonicalized analyzed plan for semantic match
        session.mv_defs[name] = (_normalize_sql(select), _canonical_plan(df))
        recipe = _parse_incr_mv(select) or {"select": select}
        if "merge" in recipe:
            recipe["files"] = sorted(set(df.inputFiles()))
            # rollup-candidate ranking: when several MVs can answer a
            # query, prefer the smallest materialization
            recipe["rows"] = spark.read.parquet(path).count()
        session.mv_incr[name] = recipe
        return _ok(spark, f"materialized view {name} at {path}")

    m = _REFRESH_MV.match(query)
    if m:
        name, force_full = m.group(1), bool(m.group(2))
        path = session.materialized.get(name)
        if path is None:
            raise ValueError(f"materialized view not found: {name}")
        return _refresh_matview(session, name, path, force_full)

    m = _DROP_MV.match(query)
    if m:
        if_exists, name = m.group(1), m.group(2)
        path = session.materialized.pop(name, None)
        session.mv_defs.pop(name, None)
        session.mv_incr.pop(name, None)
        if path is None:
            if if_exists:
                return _ok(spark, f"materialized view {name} did not exist")
            raise ValueError(f"materialized view not found: {name}")
        spark.catalog.dropTempView(name)
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        return _ok(spark, f"materialized view {name} dropped")

    m = _ANALYZE.match(query)
    if m:
        ws_name, rel_path, sample_pct = m.groups()
        path, _ = _writable_path(session, ws_name.rstrip("."), rel_path)
        df = _read_path(session, ws_name.rstrip(".").split(".")[0], path)
        if sample_pct:
            df = df.sample(fraction=int(sample_pct) / 100.0, seed=42)
        from pyspark.sql import functions as F

        # one distributed agg computes every column's stats (rowcount,
        # ndv, non-null count, and equi-depth histogram boundaries for
        # numeric/date columns via approx percentiles — DrillStatsTable
        # holds the same shape: its t-digest serializes to equi-depth
        # bucket boundaries, HistogramUtils.java)
        _HIST_BUCKETS = 10
        grid = [i / _HIST_BUCKETS for i in range(_HIST_BUCKETS + 1)]
        numeric = {
            f.name for f in df.schema.fields
            if f.dataType.simpleString() in (
                "tinyint", "smallint", "int", "bigint", "float", "double",
                "date", "timestamp", "timestamp_ntz")
            or f.dataType.simpleString().startswith("decimal")
        }
        aggs = [F.count(F.lit(1)).alias("__rowcount")]
        for c in df.columns:
            aggs.append(F.approx_count_distinct(c).alias(f"__ndv_{c}"))
            aggs.append(F.count(c).alias(f"__nn_{c}"))
            if c in numeric:
                aggs.append(
                    F.percentile_approx(
                        F.col(c).cast("double"), grid
                    ).alias(f"__hist_{c}"))
        row = df.agg(*aggs).head().asDict()

        def _col_stats(c):
            out = {
                "column": c,
                "ndv": row[f"__ndv_{c}"],
                "nonnullcount": row[f"__nn_{c}"],
                "nullcount": row["__rowcount"] - row[f"__nn_{c}"],
            }
            bounds = row.get(f"__hist_{c}")
            if bounds is not None:
                out["histogram"] = {
                    "category": "numeric-histogram",
                    "numRowsPerBucket": row[f"__nn_{c}"] // _HIST_BUCKETS,
                    "buckets": bounds,
                }
            return out

        stats = {
            "statistics_version": "v1",
            "computed": True,
            "rowcount": row["__rowcount"],
            "sample_percent": int(sample_pct) if sample_pct else 100,
            "columns": [_col_stats(c) for c in df.columns],
        }
        import json as _json

        target = (
            os.path.join(path, STATS_FILE)
            if os.path.isdir(path)
            else path + STATS_FILE
        )
        with open(target, "w") as f:
            _json.dump(stats, f)
        return spark.createDataFrame(
            [Row(ok=True, summary=f"analyzed {rel_path}", rows=stats["rowcount"],
                 columns=len(df.columns))],
            "ok boolean, summary string, rows bigint, columns int",
        )

    m = _CREATE_SCHEMA_FT.match(query)
    if m:
        replace, cols, ws_name, rel_path = m.groups()
        path, _ = _writable_path(session, ws_name.rstrip("."), rel_path)
        sf = os.path.join(path, SCHEMA_FILE)
        if os.path.exists(sf) and not replace:
            raise ValueError(f"schema already exists for table {rel_path}")
        import json as _json

        os.makedirs(path, exist_ok=True)
        with open(sf, "w") as f:
            _json.dump({"ddl": _drill_cols_to_spark_ddl(cols)}, f)
        return _ok(spark, f"created schema for table {ws_name}`{rel_path}`")

    m = _DROP_SCHEMA_FT.match(query)
    if m:
        if_exists, ws_name, rel_path = m.groups()
        path, _ = _writable_path(session, ws_name.rstrip("."), rel_path)
        sf = os.path.join(path, SCHEMA_FILE)
        if not os.path.exists(sf):
            if if_exists:
                return _ok(spark, "schema did not exist")
            raise ValueError(f"no schema for table {rel_path}")
        os.remove(sf)
        return _ok(spark, f"dropped schema for table {ws_name}`{rel_path}`")

    m = _CREATE_FN_JAR.match(query)
    if m:
        # CreateFunctionHandler.java registers jar-packaged
        # DrillSimpleFuncs; the Spark-first equivalents are SQL UDFs
        # (CREATE TEMPORARY FUNCTION f(...) RETURN <expr> — JVM-inlined)
        # and spark.udf.register — a Drill UDF jar has no Spark entry
        # points, so loading one cannot work by construction
        raise NotImplementedError(
            "CREATE FUNCTION USING JAR loads Drill-interface UDFs, which "
            "have no Spark entry points. Use CREATE TEMPORARY FUNCTION "
            "name(args) RETURN <expr> (inlined into codegen) or "
            "spark.udf.register for Python/pandas UDFs."
        )

    m = _CREATE_VIEW.match(query)
    if m:
        replace, ws_prefix, name, select = m.groups()
        df = spark.sql(rewrite(session, select))
        if replace:
            df.createOrReplaceTempView(name)
        else:
            df.createTempView(name)
        # workspace-qualified views persist as <name>.view.drill JSON in
        # the workspace root (ViewHandler.java / dotdrill/ — Drill views
        # are files, visible to SHOW FILES and future sessions)
        if ws_prefix:
            ws = session.workspaces.get(ws_prefix.rstrip("."))
            if ws is not None and ws.kind == "file" and ws.writable:
                import json as _json

                with open(os.path.join(ws.path, f"{name}.view.drill"), "w") as f:
                    _json.dump({"name": name, "sql": select.strip()}, f)
                return _ok(spark, f"view {name} persisted in {ws.name}")
        return _ok(spark, f"view {name} created")

    m = _DROP_VIEW.match(query)
    if m:
        if_exists, ws_prefix, name = m.groups()
        dropped = spark.catalog.dropTempView(name)
        if ws_prefix:
            ws = session.workspaces.get(ws_prefix.rstrip("."))
            p = os.path.join(ws.path, f"{name}.view.drill") if ws else None
            if p and os.path.exists(p):
                os.remove(p)
                dropped = True
        if not dropped and not if_exists:
            raise ValueError(f"view not found: {name}")
        return _ok(spark, f"view {name} dropped")

    m = _ALTER_SET.match(query)
    if m:
        _, name, value = m.groups()
        session.set_option(name, value)
        return spark.createDataFrame([Row(ok=True, summary=f"{name} updated")])

    m = _RESET.match(query)
    if m:
        session.reset_option(m.group(1))
        return spark.createDataFrame([Row(ok=True, summary=f"{m.group(1)} reset")])

    m = _SHOW_TABLES_WS.match(query)
    if m:
        # Drill's SHOW TABLES in a file workspace lists its tables
        # (files/dirs, minus dot/underscore metadata entries) as
        # (TABLE_SCHEMA, TABLE_NAME) — ShowTablesHandler.java
        target = m.group(1)
        ws = session.workspaces.get(target)
        if ws is None:
            raise ValueError(f"unknown workspace {target!r}")
        rows = []
        if os.path.isdir(ws.path):
            for name in sorted(os.listdir(ws.path)):
                if name.startswith((".", "_")):
                    continue
                rows.append(Row(TABLE_SCHEMA=target, TABLE_NAME=name))
        if not rows:
            return spark.createDataFrame(
                [], "TABLE_SCHEMA string, TABLE_NAME string")
        return spark.createDataFrame(rows)

    m = _SHOW_FILES.match(query)
    if m:
        target = (m.group(1) or "dfs").strip("`")
        ws = session.workspaces.get(target)
        root = ws.path if ws else target
        rows = []
        if os.path.isdir(root):
            import datetime

            for name in sorted(os.listdir(root)):
                p = os.path.join(root, name)
                st = os.stat(p)
                rows.append(
                    Row(
                        name=name,
                        isDirectory=os.path.isdir(p),
                        isFile=os.path.isfile(p),
                        length=st.st_size,
                        modificationTime=datetime.datetime.fromtimestamp(st.st_mtime),
                        accessTime=datetime.datetime.fromtimestamp(st.st_atime),
                        permissions=oct(st.st_mode & 0o777)[2:],
                    )
                )
        schema = (
            "name string, isDirectory boolean, isFile boolean, length long, "
            "modificationTime timestamp, accessTime timestamp, permissions string"
        )
        return spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)

    # EXPLAIN PLAN FOR <q> (Drill grammar) -> Spark EXPLAIN <q>.
    # When the inner query is answered by a materialized view
    # (docs/dev/MaterializedViews.md: "Use EXPLAIN to see if a
    # materialized view is being used"), explain the REWRITTEN plan —
    # its FileScan points at the materialization.
    em = re.match(
        r"^\s*EXPLAIN\s+PLAN\s+(?:WITH\s+IMPLEMENTATION\s+)?FOR\s+(.*)$",
        query, re.IGNORECASE | re.DOTALL)
    if em and getattr(session, "mv_defs", None):
        inner = em.group(1)
        try:
            inner_df = spark.sql(rewrite(session, inner))
            mv = _match_materialized(session, inner, inner_df)
        except Exception:
            mv = None
        if mv is not None:
            return spark.createDataFrame(
                [(mv._jdf.queryExecution().toString(),)], "plan string")
    query = re.sub(r"^\s*EXPLAIN\s+PLAN\s+(?:WITH\s+IMPLEMENTATION\s+)?FOR\s+", "EXPLAIN ", query, flags=re.IGNORECASE)

    # INFORMATION_SCHEMA.x / sys.x tables (store/ischema/, store/sys/):
    # materialize the snapshot views and rewrite the dotted names.
    # The bare-name form must never fire INSIDE a backtick-quoted path
    # (`tsdb.`sys.cpu.user`` is a workspace table whose name merely
    # contains "sys."), so it substitutes only outside backtick spans;
    # the sys.`name` form is handled first and is unambiguous.
    if re.search(r"\binformation_schema\s*\.|\bsys\s*\.", query, re.IGNORECASE):
        from drill_spark.catalog import register_system_views

        register_system_views(session)
        query = re.sub(
            r"\binformation_schema\s*\.\s*`(\w+)`",
            lambda m: f"information_schema_{m.group(1).lower()}",
            query,
            flags=re.IGNORECASE,
        )
        query = re.sub(
            r"\bsys\s*\.\s*`(\w+)`",
            lambda m: f"sys_{m.group(1).lower()}",
            query,
            flags=re.IGNORECASE,
        )
        backtick = re.compile(r"`[^`]*`")
        parts, last = [], 0
        for m in backtick.finditer(query):
            seg = query[last: m.start()]
            seg = re.sub(r"\binformation_schema\s*\.\s*(\w+)",
                         lambda mm: f"information_schema_{mm.group(1).lower()}",
                         seg, flags=re.IGNORECASE)
            seg = re.sub(r"\bsys\s*\.\s*(\w+)",
                         lambda mm: f"sys_{mm.group(1).lower()}",
                         seg, flags=re.IGNORECASE)
            parts += [seg, m.group(0)]
            last = m.end()
        seg = query[last:]
        seg = re.sub(r"\binformation_schema\s*\.\s*(\w+)",
                     lambda mm: f"information_schema_{mm.group(1).lower()}",
                     seg, flags=re.IGNORECASE)
        seg = re.sub(r"\bsys\s*\.\s*(\w+)",
                     lambda mm: f"sys_{mm.group(1).lower()}",
                     seg, flags=re.IGNORECASE)
        parts.append(seg)
        query = "".join(parts)

    text = rewrite(session, query)
    if not _PLAIN_QUERY.match(query):
        # Spark may store this statement's text (a SQL function body, a
        # temp view, CACHE TABLE) and resolve it on every later use
        session._keep_statement_views()
    df = spark.sql(text)
    mv = _match_materialized(session, query, df)
    return mv if mv is not None else df


def _refresh_matview(session, name: str, path: str, force_full: bool):
    """REFRESH MATERIALIZED VIEW — incremental when possible.

    The incremental path (the IVM move real warehouses ship for
    append-only sources) applies when the definition parsed as a
    single-source GROUP BY with decomposable aggregates
    (COUNT/SUM/MIN/MAX — COUNT merges by SUM), every file seen at the
    last (re)build is still present, and the only change is NEW parquet
    files. Then only the new files are scanned: the delta aggregates
    union with the stored state and re-aggregate with the merge
    functions — cost proportional to the appended data, not the
    source. Any other situation (FULL requested, files rewritten or
    deleted, non-decomposable shape) falls back to a full recompute
    and the status message says which path ran.
    """
    import os

    from pyspark.sql import functions as F

    spark = session.spark
    state = session.mv_incr.get(name, {})
    select = state.get("select")
    if select is None:
        raise ValueError(f"materialized view definition lost: {name}")

    def full():
        df = spark.sql(rewrite(session, select))
        df.write.mode("overwrite").parquet(path)
        spark.catalog.refreshByPath(path)
        spark.read.parquet(path).createOrReplaceTempView(name)
        if "merge" in state:
            state["files"] = sorted(set(df.inputFiles()))
        return df

    if force_full or "merge" not in state:
        full()
        return _ok(spark, f"materialized view {name} refreshed (full)")

    try:
        current = spark.sql(rewrite(session, select))
        new_files = set(current.inputFiles())
        old_files = set(state["files"])
        if not old_files <= new_files:
            full()
            return _ok(
                spark,
                f"materialized view {name} refreshed (full: source files "
                "rewritten or removed)")
        added = sorted(new_files - old_files)
        if not added:
            return _ok(spark, f"materialized view {name} is up to date "
                              "(0 new files)")
        if not all(f.endswith(".parquet") for f in added):
            full()
            return _ok(spark, f"materialized view {name} refreshed (full: "
                              "non-parquet appends)")

        delta_view = f"__mv_delta_{name}"
        spark.read.parquet(*[f.replace("file:", "") for f in added]) \
            .createOrReplaceTempView(delta_view)
        where = f" where {state['where']}" if state.get("where") else ""
        delta_sql = (
            f"select {state['sel']} from {delta_view}{where} "
            f"group by {', '.join(state['groups'])}")
        delta = spark.sql(rewrite(session, delta_sql))
        stored = spark.read.parquet(path)
        merge_aggs = [
            (F.sum(a) if kind == "sum" else getattr(F, kind)(a)).alias(a)
            for a, kind, *_ in state["merge"] if kind != "group"
        ]
        out_cols = [a for a, *_ in state["merge"]]
        merged = (
            stored.select(*out_cols).unionByName(delta.select(*out_cols))
            .groupBy(*state["groups"])
            .agg(*merge_aggs)
            .select(*out_cols)
        )
        # stored types: count() re-merged via sum() widens bigint->bigint,
        # but sum(double) of a bigint column would widen — realign to the
        # stored schema so refresh never drifts the MV's types
        for f_old in stored.schema.fields:
            merged = merged.withColumn(
                f_old.name, F.col(f_old.name).cast(f_old.dataType))
        merged = merged.select(*out_cols).localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(path)
        spark.catalog.refreshByPath(path)
        spark.read.parquet(path).createOrReplaceTempView(name)
        spark.catalog.dropTempView(delta_view)
        state["files"] = sorted(new_files)
        return _ok(
            spark,
            f"materialized view {name} refreshed incrementally "
            f"({len(added)} new file(s) scanned, {len(old_files)} skipped)")
    except Exception as exc:  # safety net: never corrupt, never strand
        full()
        return _ok(
            spark,
            f"materialized view {name} refreshed (full: incremental "
            f"path failed: {type(exc).__name__})")


def _normalize_sql(sql: str) -> str:
    return re.sub(r"\s+", " ", sql.strip().rstrip(";")).lower()


def _norm_expr(s: str, count_arg: bool = False) -> str:
    """Whitespace/backtick/case-insensitive expression fingerprint;
    COUNT's argument normalizes `1` to `*` (they count the same)."""
    n = re.sub(r"[\s`]+", "", (s or "").lower())
    return "*" if count_arg and n in ("*", "1") else n


# identifiers a rollup-eligible WHERE clause may contain BESIDES the
# MV's group columns (operators/literals only — any other identifier
# means the predicate touches a column the MV no longer carries)
_WHERE_NEUTRAL = {
    "and", "or", "not", "in", "between", "like", "is", "null",
    "true", "false",
}


def _rollup_rewrite(session, query: str, df):
    """Aggregate-rollup MV rewrite (docs/dev/MaterializedViews.md
    'Rewriting Scenarios: Aggregate Rollup'): a single-source GROUP BY
    query whose group keys are a SUBSET of a materialized view's and
    whose aggregates are derivable from the MV's stored partials is
    answered by re-aggregating the (far smaller) materialization —
    COUNT/SUM roll up via SUM, MIN/MAX via MIN/MAX, AVG via
    SUM(sum)/SUM(count) when the MV stores both. An optional WHERE may
    reference MV group columns only (it filters the materialization
    directly). The rewritten result is renamed and cast positionally
    to the original plan's schema, so a type or arity mismatch
    disqualifies the rewrite instead of changing the answer."""
    from pyspark.sql import functions as F

    qm = _MV_SHAPE.match(query.strip())
    if not qm:
        return None
    qsrc = _norm_expr(qm.group("src"))
    qwhere = qm.group("where")
    qgroups = [_norm_expr(g) for g in qm.group("grp").split(",")]
    items = [s.strip() for s in _split_top_level(qm.group("sel"))]
    norm_q = _normalize_sql(query).split()
    candidates: list = []

    for name, recipe in getattr(session, "mv_incr", {}).items():
        if "merge" not in recipe or name.lower() in norm_q:
            continue
        if recipe.get("where"):
            continue  # MV pre-filters rows: only the exact-match path
        if _norm_expr(recipe["source"]) != qsrc:
            continue
        mv_groups = {_norm_expr(a): a for a, k, *_ in recipe["merge"]
                     if k == "group"}
        if not set(qgroups) <= set(mv_groups):
            continue
        if qwhere:
            # string literals out first, else 'ASIA' reads as a column
            bare = re.sub(r"'[^']*'", " ", qwhere.lower())
            idents = set(re.findall(r"[a-z_][a-z0-9_]*", bare))
            idents -= _WHERE_NEUTRAL
            if not idents <= set(mv_groups):
                continue
        stored = {(ok, arg): (a, mk)
                  for a, mk, ok, arg in recipe["merge"] if mk != "group"}
        sel = []
        ok = True
        for it in items:
            am = re.match(
                r"^(count|sum|min|max|avg)\s*\(\s*(distinct\b)?\s*(.*?)\s*\)"
                r"(?:\s+as\s+`?\w+`?)?$", it, re.IGNORECASE)
            gm = re.match(r"^`?(\w+)`?(?:\s+as\s+`?\w+`?)?$", it)
            if am:
                kind, distinct, arg = am.groups()
                if distinct:
                    ok = False
                    break
                kind = kind.lower()
                narg = _norm_expr(arg, count_arg=kind == "count")
                if kind == "avg":
                    s_hit = stored.get(("sum", narg))
                    c_hit = stored.get(("count", narg))
                    if not (s_hit and c_hit):
                        ok = False
                        break
                    sel.append(F.sum(s_hit[0]) / F.sum(c_hit[0]))
                else:
                    hit = stored.get((kind, narg))
                    if hit is None:
                        ok = False
                        break
                    a, mk = hit
                    sel.append(F.sum(a) if mk == "sum" else getattr(F, mk)(a))
            elif gm and _norm_expr(gm.group(1)) in set(qgroups):
                sel.append(F.first(F.col(mv_groups[_norm_expr(gm.group(1))])))
            else:
                ok = False
                break
        if not ok or len(sel) != len(df.columns):
            continue
        candidates.append((recipe.get("rows", 1 << 62), name,
                           list(sel), dict(mv_groups)))
    # several MVs can answer: re-aggregate the SMALLEST materialization
    for _, name, sel, mv_groups in sorted(candidates, key=lambda c: c[0]):
        t = session.spark.table(name)
        if qwhere:
            t = t.where(qwhere)
        gcols = [mv_groups[g] for g in qgroups]
        out = t.groupBy(*gcols).agg(*[c.alias(f"_c{i}")
                                      for i, c in enumerate(sel)])
        out = out.select(*[f"_c{i}" for i in range(len(sel))]).toDF(*df.columns)
        try:
            for fld in df.schema.fields:
                out = out.withColumn(fld.name,
                                     F.col(fld.name).cast(fld.dataType))
        except Exception:
            continue
        return out.select(*df.columns)
    return None


def _canonical_plan(df) -> str | None:
    """Canonicalized analyzed plan string: stable across formatting,
    case, and expression-id differences — the v1 fingerprint for MV
    equivalence."""
    try:
        return df._jdf.queryExecution().analyzed().canonicalized().toString()
    except Exception:
        return None


def _match_materialized(session, query: str, df):
    """Automatic materialized-view rewrite (reference:
    planner/sql/handlers/DefaultSqlHandler.java:209 +
    docs/dev/MaterializedViews.md): a SELECT over base tables whose
    semantics equal a registered MV definition is answered from the
    materialization instead of recomputing.

    Scenarios (docs/dev/MaterializedViews.md): exact match (normalized
    text or canonicalized-plan equality) and aggregate rollup
    (_rollup_rewrite). Gated by the reference's session option
    `planner.enable_materialized_view_rewrite` (default true)."""
    mv_defs = getattr(session, "mv_defs", None)
    if not mv_defs:
        return None
    if str(session.get_option(
            "planner.enable_materialized_view_rewrite", "true")
           ).lower() in ("false", "0"):
        return None
    norm = _normalize_sql(query)
    canon = None
    for name, (def_norm, def_canon) in mv_defs.items():
        if name.lower() in norm.split():  # query already names the MV
            continue
        if norm == def_norm:
            return session.spark.table(name)
        if def_canon is not None:
            if canon is None:
                canon = _canonical_plan(df)
            if canon == def_canon:
                return session.spark.table(name)
    return _rollup_rewrite(session, query, df)
