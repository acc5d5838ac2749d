"""Schema-on-read file readers — Drill's signature convenience surface.

Drill discovers schema per batch at scan time (ScanBatch.java:73,
scan/v3 EVF framework) and layers conveniences on top:
- `all_text_mode` for JSON (ExecConstants.java:505) — read everything
  as strings to survive type drift;
- the CSV `columns[n]` array model for headerless text
  (store/easy/text/reader/CompliantTextBatchReader.java:52,
  HeaderBuilder.java);
- implicit file columns fqn/filepath/filename/suffix
  (store/ColumnExplorer.java:495-530);
- directory partition columns dir0..dirN (ColumnExplorer.java:142-162).

Spark analogs implemented here: reader inference (+ mergeSchema for
drift), `primitivesAsString` for all_text_mode, a `columns` array
wrapper for headerless CSV, `input_file_name()`-derived implicit
columns, and dirN columns derived from the path relative to the table
root. dirN values ride on real file paths, so filters on them prune at
the file-listing level when the layout is `root/val1/val2/...` —
matching Drill's PruneScanRule behavior (planner/logical/partition/).
"""

from __future__ import annotations

import os
import re
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# entries a session's SchemaStore keeps before evicting the least
# recently used one
SCHEMA_STORE_SIZE = 256


class SchemaStore:
    """Inferred reader schemas, reused across a session's statements.

    Spark's JSON/CSV/XML sources scan their input once to infer the
    schema and again to run the query; Drill discovers schema during
    its single scan (ScanBatch OK_NEW_SCHEMA). A stored schema handed
    back to the reader with ``.schema()`` skips the inference job. The
    key holds everything inference depends on: the absolute local
    path, the format, the final reader options, the session's conf
    snapshot and a listing fingerprint (relative name, size, mtime,
    ctime and inode of every file under the path), so adding,
    deleting or rewriting a file, or changing an option or conf,
    infers afresh. Globs, non-local URIs and relative paths are never
    stored. ``inferred``/``reused`` count inference runs and hits."""

    def __init__(self):
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()
        self.inferred = 0
        self.reused = 0

    def key(self, spark: SparkSession, path: str, fmt: str, options: dict):
        """The entry key for one read, or None when the path is not
        storable (glob, URI, relative, missing or not listable)."""
        if not os.path.isabs(path) or any(ch in path for ch in "*?[{"):
            return None
        try:
            listing = _listing(path)
        except OSError:  # missing path, broken symlink, unreadable dir
            return None
        # the JVM map's string form: one py4j round trip, where the
        # Python-side spark.conf.getAll converts it entry by entry
        confs = spark._jsparkSession.conf().getAll().toString()
        opts = tuple(sorted((str(k), str(v)) for k, v in options.items()))
        return (os.path.abspath(path), fmt, opts, confs, listing)

    def get(self, key):
        with self._lock:
            hit = self._entries.get(key) if key is not None else None
            if hit is not None:
                self._entries.move_to_end(key)
                self.reused += 1
            return hit

    def put(self, key, entry) -> None:
        with self._lock:
            self.inferred += 1
            if key is None:
                return
            self._entries[key] = entry
            self._entries.move_to_end(key)
            while len(self._entries) > SCHEMA_STORE_SIZE:
                self._entries.popitem(last=False)

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()


def _listing(path: str) -> tuple:
    """(relative name, size, mtime_ns, ctime_ns, inode) of every file
    under ``path`` (the path itself when it is a file). Raises OSError
    for a symlinked directory under ``path``: Spark reads through it,
    so its files would belong in the listing."""

    def sig(rel, st):
        return (rel, st.st_size, st.st_mtime_ns, st.st_ctime_ns, st.st_ino)

    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (sig("", st),)
    out = []

    def walk(d, prefix):
        # scandir, not os.walk: its entries carry their own names and
        # types, which makes listing large directories ~3x faster
        with os.scandir(d) as it:
            entries = sorted(it, key=lambda e: e.name)
        for e in entries:
            if not e.is_dir():
                out.append(sig(prefix + e.name, e.stat()))
            elif e.is_symlink():
                raise OSError(f"symlinked directory: {e.path}")
            else:
                walk(e.path, prefix + e.name + "/")

    walk(path, "")
    return tuple(out)


def _read_reusing_schema(store, spark, reader, path, fmt, options, load, infer=None):
    """``load(reader)`` through the session's SchemaStore. ``infer()``
    returns (DataFrame, extra reader options the read settled on);
    both are stored, and a hit re-applies them with the stored schema
    so Spark runs no inference job. Without a store this is exactly
    ``infer()``."""
    infer = infer or (lambda: (load(reader), {}))
    if store is None:
        return infer()[0]
    key = store.key(spark, path, fmt, options)
    hit = store.get(key)
    if hit is not None:
        schema, extra = hit
        return load(reader.schema(schema).options(**extra))
    df, extra = infer()
    store.put(key, (df.schema, extra))
    return df


def read_auto(
    spark: SparkSession,
    path: str,
    fmt: str,
    options: dict[str, str] | None = None,
    session=None,
) -> DataFrame:
    options = dict(options or {})
    options.pop("type", None)
    # provided schema (Drill: CREATE SCHEMA / table-function schema
    # property, planner/sql/handlers/SchemaHandler.java,
    # TestSchemaWithTableFunction.java): skip inference, use the DDL
    schema = options.pop("schema", None)
    store = getattr(session, "schema_store", None)
    fmt = fmt.lower()
    if fmt in ("log", "httpd", "syslog"):
        from drill_spark.readers import logs

        if fmt == "httpd":
            return logs.read_httpd_log(spark, path)
        if fmt == "syslog":
            return logs.read_syslog(spark, path)
        regex = options.pop("regex")
        fields = [
            (n.strip(), t.strip())
            for n, _, t in (f.strip().partition(" ") for f in (schema or "").split(","))
        ]
        return logs.read_log(spark, path, regex, fields)
    if fmt == "json":
        return read_json(spark, path, schema=schema, store=store,
                         **_json_kwargs(options, session))
    if fmt in ("csv", "text", "tsv", "psv"):
        delim = {"tsv": "\t", "psv": "|"}.get(fmt)
        if delim and "delimiter" not in options:
            options["delimiter"] = delim
        return read_csv(spark, path, schema=schema, store=store,
                        **_csv_kwargs(options, session))
    if fmt == "xml":
        return read_xml(spark, path, schema=schema, options=options, store=store)
    if fmt == "ltsv":
        return read_ltsv(spark, path, schema=schema)
    if fmt in ("excel", "xlsx"):
        return read_excel(spark, path, **options)
    if fmt == "sequencefile":
        return read_sequencefile(spark, path)
    if fmt == "avro":
        # self-contained OCF decoder (spark-avro jar not bundled); see
        # drill_spark/readers/avro.py for the scale story
        from drill_spark.readers.avro import read_avro

        return read_avro(spark, path)
    if fmt in ("warc", "wet", "wat"):
        # split-aware Common Crawl web-archive scan; `.wet` resolves to
        # the conversion-record text view, `.wat` to the metadata-JSON
        # view (readers/warc.py scale story)
        from drill_spark.readers.warc import read_warc, read_wat, read_wet

        reader = {"wet": read_wet, "wat": read_wat}.get(fmt, read_warc)
        split = options.get("splitBytes", options.get("split_bytes"))
        return reader(spark, path, **({"split_bytes": int(split)} if split else {}))
    if fmt == "arc":
        from drill_spark.readers.arc import read_arc

        split = options.get("splitBytes", options.get("split_bytes"))
        return read_arc(spark, path,
                        **({"split_bytes": int(split)} if split else {}))
    if fmt == "pcap":
        from drill_spark.readers.pcap import read_pcap

        return read_pcap(spark, path)
    if fmt == "pcapng":
        from drill_spark.readers.pcapng import read_pcapng

        return read_pcapng(spark, path, stat=_truthy(options.get("stat", "false")))
    if fmt in ("delta", "deltalake"):
        # self-contained transaction-log reader (delta-spark jar not
        # bundled); see drill_spark/readers/delta.py for the scale story
        from drill_spark.readers.delta import read_delta

        return read_delta(spark, path, options)
    if fmt == "iceberg":
        from drill_spark.readers.iceberg import read_iceberg

        return read_iceberg(spark, path, options)
    if fmt == "paimon":
        from drill_spark.readers.paimon import read_paimon

        return read_paimon(spark, path, options)
    if fmt in ("shp", "esri", "shapefile"):
        from drill_spark.readers.esri import read_shp

        return read_shp(spark, path)
    if fmt == "image":
        from drill_spark.readers.image import read_images

        return read_images(spark, path)
    if fmt in ("spss", "sav"):
        from drill_spark.readers.spss import read_sav

        return read_sav(spark, path)
    if fmt in ("sas", "sas7bdat"):
        from drill_spark.readers.sas import read_sas

        return read_sas(spark, path)
    if fmt in ("msaccess", "access", "mdb", "accdb"):
        from drill_spark.readers.msaccess import read_access

        return read_access(
            spark, path, table_name=options.get("tableName", options.get("table_name"))
        )
    if fmt == "pdf":
        from drill_spark.readers.pdf import read_pdf

        return read_pdf(
            spark,
            path,
            combine_pages=_truthy(options.get("combinePages", "false")),
            extract_headers=_truthy(options.get("extractHeaders", "true")),
            default_table_index=int(options.get("defaultTableIndex", 0) or 0),
            algorithm=options.get("extractionAlgorithm", "basic"),
            password=options.get("password", ""),
        )
    if fmt in ("hdf5", "h5"):
        from drill_spark.readers.hdf5 import read_hdf5

        return read_hdf5(spark, path, options)
    if fmt in ("daffodil", "dfdl"):
        from drill_spark.readers.dfdl import read_dfdl

        uri = options.get("schemaURI", options.get("schema_uri"))
        if not uri:
            raise ValueError(
                "the daffodil format requires a schemaURI table-function "
                "option pointing at the .dfdl.xsd (DaffodilFormatConfig)"
            )
        return read_dfdl(
            spark,
            path,
            uri,
            root_name=options.get("rootName", options.get("root_name")),
            root_namespace=options.get("rootNamespace"),
            validation_mode=_truthy(options.get("validationMode", "false")),
        )
    predicate = options.pop("predicate", None) if fmt == "parquet" else None
    reader = spark.read.options(**options)
    if schema:
        reader = reader.schema(schema)
    if fmt == "parquet" and os.path.isdir(path):
        cached = load_parquet_metadata_cache(path)
        if cached is not None:
            # REFRESH TABLE METADATA cache hit: scan exactly the cached
            # file list — no recursive directory listing (the planning
            # cost Drill's .drill.parquet_metadata exists to kill on
            # million-file tables). basePath keeps hive-style key=value
            # partition columns deriving exactly as a directory read.
            files = cached["files"]
            if predicate:
                # the cache's footer stats + hive partition values
                # prune the file list with the same satisfiability
                # engine as the Delta/Iceberg readers; the predicate
                # re-runs as a Catalyst filter below, so results stay
                # exact whatever the stats coverage
                files = prune_cached_files(cached, predicate)
                if not files:
                    # Spark needs >= 1 path to derive the schema; one
                    # file + the backstop filter yields the typed
                    # empty result
                    files = cached["files"][:1]
            out = reader.option("basePath", path).parquet(
                *(os.path.join(path, f) for f in files))
            return out.where(F.expr(predicate)) if predicate else out
    out = reader.format(fmt).load(path)
    return out.where(F.expr(predicate)) if predicate else out


METADATA_CACHE_FILE = ".drill.parquet_metadata"


def write_parquet_metadata_cache(path: str) -> dict:
    """REFRESH TABLE METADATA for a parquet directory
    (MetadataHandler / Drill's .drill.parquet_metadata): walk the tree
    once, record every data file with its footer row count plus the
    mtime of every directory, and persist the summary next to the
    data. Reads consult the cache instead of re-listing; any directory
    mtime change invalidates it (Drill's staleness rule). The refresh
    itself is the paid metadata pass, exactly like the reference's
    REFRESH job."""
    import json as _json
    import time

    import pyarrow.parquet as pq

    # create the cache file FIRST: the new dirent bumps the root dir's
    # mtime, which must happen before mtimes are recorded (overwriting
    # the existing file later does not touch the dir again)
    cp = os.path.join(path, METADATA_CACHE_FILE)
    open(cp, "a").close()
    files, dirs = [], {}
    for root, _subdirs, names in os.walk(path):
        dirs[os.path.relpath(root, path)] = os.path.getmtime(root)
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                files.append(os.path.relpath(os.path.join(root, n), path))
    files.sort()
    rows = {}
    stats = {}
    for rel in files:
        try:
            rows[rel] = pq.read_metadata(os.path.join(path, rel)).num_rows
        except Exception:
            rows[rel] = None
        # footer min/max/nullCount in the shared skipping shape — the
        # refresh job is the ONE paid metadata pass, so reads with a
        # predicate can plan from the cache alone (Drill keeps column
        # stats in .drill.parquet_metadata for the same reason)
        from drill_spark.readers.delta_stats import file_stats_json

        raw = file_stats_json(os.path.join(path, rel))
        if raw:
            stats[rel] = _json.loads(raw)
    cache = {
        "generated_ms": int(time.time() * 1000),
        "dirs": dirs,
        "files": files,
        "row_counts": rows,
        "stats": stats,
        "total_rows": sum(v for v in rows.values() if v is not None),
    }
    with open(cp, "w") as f:
        _json.dump(cache, f)
    return cache


def prune_cached_files(cache: dict, predicate: str) -> list[str]:
    """Subset of the cache's files whose footer stats + hive key=value
    directory partition values admit ``predicate`` — the same
    satisfiability engine the Delta and Iceberg readers prune with.
    Files without stats (older caches) are kept; an unparseable
    predicate keeps everything."""
    from urllib.parse import unquote

    from drill_spark.readers.delta_stats import (
        file_may_match,
        parse_skipping_predicate,
    )

    node = parse_skipping_predicate(predicate)
    if node is None:
        return cache["files"]
    stats = cache.get("stats") or {}
    kept = []
    for rel in cache["files"]:
        pv = {}
        for seg in rel.split(os.sep)[:-1]:
            if "=" in seg:
                k, v = seg.split("=", 1)
                pv[k] = None if v == "__HIVE_DEFAULT_PARTITION__" \
                    else unquote(v)
        if file_may_match(stats.get(rel), node, pv or None):
            kept.append(rel)
    return kept


def load_parquet_metadata_cache(path: str):
    """The persisted cache when present AND fresh (every recorded
    directory mtime unchanged and no new directories); None otherwise —
    never a stale file list."""
    import json as _json

    cp = os.path.join(path, METADATA_CACHE_FILE)
    if not os.path.exists(cp):
        return None
    try:
        with open(cp) as f:
            cache = _json.load(f)
        recorded = cache["dirs"]
        seen = {}
        for root, _subdirs, _names in os.walk(path):
            seen[os.path.relpath(root, path)] = os.path.getmtime(root)
        if set(seen) != set(recorded):
            return None
        for d, m in recorded.items():
            if abs(seen[d] - m) > 1e-6:
                return None
        return cache if cache.get("files") else None
    except Exception:
        return None


def _truthy(v) -> bool:
    return str(v).lower() in ("1", "true", "yes", "on")


def _json_kwargs(options: dict[str, str], session) -> dict:
    all_text = _truthy(options.pop("all_text_mode", options.pop("allTextMode", "false")))
    if session is not None and _truthy(session.get_option("store.json.all_text_mode", "false")):
        all_text = True
    union = _truthy(options.pop("union_type", options.pop("unionType", "false")))
    if session is not None and _truthy(session.get_option("exec.enable_union_type", "false")):
        union = True
    return {"all_text_mode": all_text, "union_mode": union, "options": options}


def _csv_kwargs(options: dict[str, str], session) -> dict:
    header = _truthy(options.pop("extractHeader", options.pop("header", "false")))
    delimiter = options.pop("delimiter", options.pop("fieldDelimiter", ","))
    return {"header": header, "delimiter": delimiter, "options": options}


def read_json(
    spark: SparkSession,
    path: str,
    all_text_mode: bool = False,
    union_mode: bool = False,
    schema: str | None = None,
    options: dict | None = None,
    extended: bool = False,
    store: SchemaStore | None = None,
) -> DataFrame:
    """JSON with Drill semantics: multiline objects OK, schema unioned
    across files (OK_NEW_SCHEMA analog resolved at read time), and
    all_text_mode reading primitives as strings.

    union_mode is the analog of Drill's union vector
    (exec.enable_union_type, UnionVector.java:61 — per-value
    heterogeneous types): the whole record is read as ONE Spark 4
    VARIANT column `v`, preserving per-value types; access via
    variant_get(v, '$.field' [, type]), inspect via
    schema_of_variant/typeof. This is strictly more faithful than
    Drill's union (arbitrary nesting, no subtype enumeration).

    A session's ``store`` reuses the schema (and the multiLine outcome)
    an earlier read of the same unchanged files inferred; a provided
    schema and union_mode infer nothing and bypass it.
    """
    opts = dict(options or {})
    if all_text_mode and not union_mode:
        opts["primitivesAsString"] = "true"
    reader = spark.read.options(**opts)
    if schema:
        reader = reader.schema(schema)
    if union_mode:
        reader = reader.option("singleVariantColumn", "v")

    def infer():
        # Drill's JSON reader accepts both NDJSON and pretty-printed files.
        df = reader.option("multiLine", "false").json(path)
        if df.columns == ["_corrupt_record"]:
            return reader.option("multiLine", "true").json(path), {"multiLine": "true"}
        return df, {"multiLine": "false"}

    if schema or union_mode:
        store = None
    df = _read_reusing_schema(store, spark, reader, path, "json", opts,
                              lambda r: r.json(path), infer)
    if extended:
        df = decode_extended_json(df)
    return df


# Mongo extended JSON (store/easy/json/extended/ExtendedTypeNames.java:
# V1 + V2 names; BaseExtendedValueParser semantics — relaxed scalars
# accepted wherever the canonical form nests an object).
_XJSON_LONG = "$numberLong"
_XJSON_KEYS = {
    "$numberLong", "$numberDecimal", "$numberDouble", "$numberInt",
    "$date", "$binary", "$oid", "$dateDay", "$time", "$interval", "$type",
}


def _xjson_rewrite(col, dtype):
    """Recursive Catalyst rewrite of one column: single-``$``-key structs
    become their typed scalar; arrays/structs rewrite element-wise.
    Pure JVM expressions — no Python in the row path."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.ArrayType):
        inner = dtype.elementType
        return F.transform(col, lambda x: _xjson_rewrite(x, inner))
    if not isinstance(dtype, T.StructType):
        return col
    names = [f.name for f in dtype.fields]
    tagged = [n for n in names if n in _XJSON_KEYS]
    if tagged and all(n in _XJSON_KEYS for n in names):
        by = {f.name: f for f in dtype.fields}

        def scalar(name):
            f = by[name]
            v = col.getField(name)
            # canonical V2 nests {"$numberLong": "millis"} under $date
            if isinstance(f.dataType, T.StructType):
                sub = {g.name: g for g in f.dataType.fields}
                if _XJSON_LONG in sub:
                    return v.getField(_XJSON_LONG).cast("long"), "long"
                if "base64" in sub:  # V2 $binary: {base64, subType}
                    return v.getField("base64"), "string"
                return v.cast("string"), "string"
            return v, f.dataType.simpleString()

        if _XJSON_LONG in by and len(tagged) == 1:
            return scalar(_XJSON_LONG)[0].cast("long")
        if "$numberInt" in by and len(tagged) == 1:
            return scalar("$numberInt")[0].cast("int")
        if "$numberDouble" in by and len(tagged) == 1:
            return scalar("$numberDouble")[0].cast("double")
        if "$numberDecimal" in by and len(tagged) == 1:
            return scalar("$numberDecimal")[0].cast("decimal(38,9)")
        if "$oid" in by and len(tagged) == 1:
            return scalar("$oid")[0].cast("string")
        if "$dateDay" in by and len(tagged) == 1:
            return scalar("$dateDay")[0].cast("date")
        if "$time" in by and len(tagged) == 1:
            return scalar("$time")[0].cast("string")
        if "$interval" in by and len(tagged) == 1:
            return scalar("$interval")[0].cast("string")
        if "$date" in by and len(tagged) == 1:
            v, kind = scalar("$date")
            if kind == "long":
                return F.timestamp_millis(v)
            if kind in ("bigint", "int"):
                return F.timestamp_millis(v.cast("long"))
            if kind == "double":
                return F.timestamp_millis(v.cast("long"))
            return F.to_timestamp(v)
        if "$binary" in by:  # V1 allows a sibling "$type" tag
            return F.unbase64(scalar("$binary")[0])
    # plain struct: rewrite fields, preserving null-ness of the struct
    rebuilt = F.struct(*[
        _xjson_rewrite(col.getField(f.name), f.dataType).alias(f.name)
        for f in dtype.fields
    ])
    return F.when(col.isNull(), F.lit(None)).otherwise(rebuilt)


def decode_extended_json(df: DataFrame) -> DataFrame:
    """Decode Mongo extended JSON V1/V2 $-literals anywhere in the
    schema into native Spark types ($numberLong→long, $numberInt→int,
    $numberDouble→double, $numberDecimal→decimal(38,9), $date→timestamp
    (millis or ISO string), $dateDay→date, $binary→binary (V1 sibling
    $type and V2 {base64,subType} both handled), $oid/$time/$interval→
    string — Spark has no TIME/INTERVAL storage type; the reference's
    V1 parsers note the same relaxed-scalar acceptance). One projection
    of nested Catalyst expressions; no Python row path."""
    return df.select(*[
        _xjson_rewrite(F.col(f.name), f.dataType).alias(f.name)
        for f in df.schema.fields
    ])


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = False,
    delimiter: str = ",",
    schema: str | None = None,
    options: dict | None = None,
    store: SchemaStore | None = None,
) -> DataFrame:
    """CSV with Drill's two models: named columns (extractHeader=true or
    a provided schema) or the `columns[n]` array model for headerless
    files. A session's ``store`` holds the raw reader schema (`_c0`...
    for headerless files), never the `columns` wrapper."""
    opts = {**(options or {}), "delimiter": delimiter,
            "header": "true" if header else "false"}
    reader = spark.read.options(**opts)
    if schema:
        return reader.schema(schema).csv(path)
    raw = _read_reusing_schema(store, spark, reader, path, "csv", opts,
                               lambda r: r.csv(path))
    if header:
        return raw
    # columns[n] model: a single array column named `columns`
    return raw.select(F.array(*[F.col(c) for c in raw.columns]).alias("columns"))


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: str | None = None,
    options: dict | None = None,
    store: SchemaStore | None = None,
) -> DataFrame:
    """XML reader (contrib/format-xml XMLFormatPlugin analog).

    Drill's XML reader flattens elements below a configured `dataLevel`
    into columns with attributes in a sibling map. Spark 4 ships a
    native distributed XML source (schema inference, nested structs,
    attributes as `_attr` fields) — strictly more capable, so we use it
    directly; `rowTag` plays dataLevel's role of naming the record
    element.
    """
    opts = dict(options or {})
    opts.setdefault("rowTag", opts.pop("dataLevel", row_tag))
    reader = spark.read.options(**opts).format("xml")
    if schema:
        return reader.schema(schema).load(path)
    return _read_reusing_schema(store, spark, reader, path, "xml", opts,
                                lambda r: r.load(path))


def read_ltsv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
) -> DataFrame:
    """LTSV reader (contrib/format-ltsv analog): each line is
    tab-separated `label:value` pairs; labels may differ per line
    (schema-on-read).

    Pure Catalyst: read.text (splittable, parallel by block) →
    str_to_map (splits each pair at the FIRST ':', so values containing
    ':' survive) → one key-discovery aggregation (returns only the
    label set, not data) → per-label projection. A provided `schema`
    ("name type, ..." DDL) skips the discovery pass — the scale path
    when labels are known.
    """
    m = F.expr("str_to_map(value, '\t', ':')")
    mapped = spark.read.text(path).select(m.alias("m"))
    if schema:
        fields = [
            (n.strip(), t.strip())
            for n, _, t in (f.strip().partition(" ") for f in schema.split(","))
        ]
        return mapped.select(
            *[F.col("m").getItem(n).cast(t).alias(n) for n, t in fields]
        )
    keys_row = mapped.select(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list(F.map_keys("m"))))).alias("ks")
    ).head()
    keys = list(keys_row["ks"] or [])
    return mapped.select(*[F.col("m").getItem(k).alias(k) for k in keys])


def read_sequencefile(spark: SparkSession, path: str) -> DataFrame:
    """SequenceFile reader (store/easy/sequencefile/ analog: Drill
    exposes binary_key / binary_value columns).

    Hadoop input format via the RDD API (splittable, distributed),
    lifted to a DataFrame with the reference's two-column schema.
    """
    rdd = spark.sparkContext.sequenceFile(path)
    return spark.createDataFrame(
        rdd.map(lambda kv: (kv[0], kv[1])), "binary_key string, binary_value string"
    )


def _hadoop_vint(n: int) -> bytes:
    """Hadoop WritableUtils.writeVInt encoding (Text length prefix)."""
    if -112 <= n <= 127:
        return bytes([n & 0xFF])
    neg = n < 0
    if neg:
        n = ~n
    size = max(1, (n.bit_length() + 7) // 8)
    first = (-120 - size) if neg else (-112 - size)
    return bytes([first & 0xFF]) + n.to_bytes(size, "big")


def write_sequencefile(df: DataFrame, out_dir: str,
                       key_col: str = "binary_key",
                       value_col: str = "binary_value") -> list[str]:
    """SequenceFile writer (Text/Text pairs): the inverse of
    :func:`read_sequencefile`, one uncompressed SequenceFile v6 per
    partition, encoded directly from the public format spec
    (SequenceFile.java header + record layout) with a sync marker
    every ~2 KB so Hadoop readers can split the file. DataFrame-only:
    the encode runs as an Arrow-batched mapInPandas, streaming records
    to the part file as they arrive."""
    import hashlib as _hl

    os.makedirs(out_dir, exist_ok=True)
    pairs = df.select(F.col(key_col).cast("string").alias("k"),
                      F.col(value_col).cast("string").alias("v"))

    def _text(b: bytes) -> bytes:
        return _hadoop_vint(len(b)) + b

    def write_partition(batches):
        import pandas as pd
        import struct

        f = None
        fname = None
        sync = None
        since_sync = 0
        n = 0
        for pdf in batches:
            for k, v in zip(pdf["k"], pdf["v"]):
                kb = _text(("" if k is None else str(k)).encode("utf-8"))
                vb = _text(("" if v is None else str(v)).encode("utf-8"))
                if f is None:
                    tag = _hl.md5(kb + vb).hexdigest()[:16]
                    sync = _hl.md5(tag.encode()).digest()
                    fname = os.path.join(out_dir, f"part-{tag}.seq")
                    f = open(fname, "wb")
                    f.write(b"SEQ\x06")
                    f.write(_text(b"org.apache.hadoop.io.Text"))
                    f.write(_text(b"org.apache.hadoop.io.Text"))
                    f.write(b"\x00\x00")          # no compression, no block
                    f.write(struct.pack(">i", 0))  # empty metadata
                    f.write(sync)
                if since_sync > 2000:
                    f.write(struct.pack(">i", -1))
                    f.write(sync)
                    since_sync = 0
                rec = struct.pack(">ii", len(kb) + len(vb), len(kb)) + kb + vb
                f.write(rec)
                since_sync += len(rec)
                n += 1
        if f is not None:
            f.close()
            yield pd.DataFrame({"file": [fname], "rows": [n]})

    manifest = pairs.mapInPandas(
        write_partition, "file string, rows long").collect()
    return [r["file"] for r in manifest]


def read_excel(spark: SparkSession, path: str, sheet: str | int = 0, **opts):
    """Excel reader (contrib/format-excel analog) — self-contained xlsx
    parser (zip + XML, standard library only); see readers/excel.py."""
    from drill_spark.readers.excel import read_excel as _read

    if isinstance(sheet, str) and sheet.isdigit():
        sheet = int(sheet)
    header = str(opts.get("extractHeader", opts.get("header", "true"))).lower() != "false"
    return _read(spark, path, sheet=sheet, header=header)


# ---------------- schema drift (OK_NEW_SCHEMA analog) ----------------


def _widen_types(a, b):
    """Common type for two drifted field types, or None if incompatible.

    Numeric widening only (byte<short<int<long<float<double<decimal→
    double), matching what Drill's schema-change tolerance accepts
    between batches; everything else must match exactly."""
    from pyspark.sql import types as T

    if a == b:
        return a
    rank = {
        T.ByteType(): 0, T.ShortType(): 1, T.IntegerType(): 2,
        T.LongType(): 3, T.FloatType(): 4, T.DoubleType(): 5,
    }
    if isinstance(a, T.DecimalType) or isinstance(b, T.DecimalType):
        other = b if isinstance(a, T.DecimalType) else a
        if isinstance(other, T.DecimalType) or other in rank:
            return T.DoubleType()
        return None
    if a in rank and b in rank:
        wide = a if rank[a] >= rank[b] else b
        # int-family + float-family promotes to double (no precision trap)
        if rank[wide] >= 4 and min(rank[a], rank[b]) <= 3:
            return T.DoubleType()
        return wide
    return None


def merge_drifted_schemas(schemas) -> "object":
    """Union a list of StructTypes with numeric widening; fields missing
    from some files become nullable. Field order = first appearance."""
    from pyspark.sql import types as T

    merged: dict[str, T.DataType] = {}
    for st in schemas:
        for f in st.fields:
            if f.name not in merged:
                merged[f.name] = f.dataType
            else:
                wide = _widen_types(merged[f.name], f.dataType)
                if wide is None:
                    raise ValueError(
                        f"schema drift on column {f.name!r} is not widenable: "
                        f"{merged[f.name].simpleString()} vs {f.dataType.simpleString()}"
                    )
                merged[f.name] = wide
    return T.StructType([T.StructField(n, t, True) for n, t in merged.items()])


def read_parquet_drift(spark: SparkSession, root: str) -> DataFrame:
    """Read a parquet directory whose files DISAGREE on schema —
    Drill's between-batch OK_NEW_SCHEMA tolerance
    (record/RecordBatch.java:113-160), which Spark's mergeSchema
    rejects outright for e.g. int→long drift.

    Plan shape: footers are read driver-side via pyarrow (cheap,
    metadata-only — the same planning-time footer pass Drill's parquet
    metadata cache does), files are GROUPED BY schema fingerprint, each
    group is one distributed spark.read over many files, and the few
    groups are aligned to the widened schema with casts and unioned.
    Scale: the union has one branch per DISTINCT schema (typically
    2-3 for drifted tables), never per file.
    """
    import glob as _glob

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    matches = [root] if os.path.isdir(root) else sorted(_glob.glob(root))
    files: list[str] = []
    for m in matches:
        if os.path.isdir(m):
            files += _glob.glob(os.path.join(m, "**", "*.parquet"), recursive=True)
        elif m.endswith(".parquet"):
            files.append(m)
    files = sorted(set(files))
    if not files:
        raise FileNotFoundError(f"no parquet files under {root}")
    groups: dict[str, list[str]] = {}
    for f in files:
        groups.setdefault(str(pq.read_schema(f)), []).append(f)
    dfs = [spark.read.parquet(*fs) for fs in groups.values()]
    merged = merge_drifted_schemas([d.schema for d in dfs])
    aligned = []
    for d in dfs:
        have = {f.name for f in d.schema.fields}
        aligned.append(
            d.select(
                *[
                    (F.col(f.name).cast(f.dataType) if f.name in have else F.lit(None).cast(f.dataType)).alias(f.name)
                    for f in merged.fields
                ]
            )
        )
    out = aligned[0]
    for d in aligned[1:]:
        out = out.unionByName(d)
    return out


# ---------------- implicit & partition columns ----------------

IMPLICIT_COLUMNS = ("fqn", "filepath", "filename", "suffix")


def with_implicit_columns(df: DataFrame) -> DataFrame:
    """Add Drill's implicit file columns (ColumnExplorer.java:495-530).

    Computed from input_file_name() with pure Catalyst expressions —
    no UDF, stays inside whole-stage codegen.
    """
    fqn = F.regexp_replace(F.input_file_name(), "^file:/+", "/")
    return (
        df.withColumn("fqn", fqn)
        .withColumn("filepath", F.regexp_extract(F.col("fqn"), r"^(.*)/[^/]+$", 1))
        .withColumn("filename", F.regexp_extract(F.col("fqn"), r"([^/]+)$", 1))
        .withColumn("suffix", F.regexp_extract(F.col("fqn"), r"\.([^./]+)$", 1))
    )


def with_dir_columns(df: DataFrame, root: str, max_depth: int = 10) -> DataFrame:
    """Add dir0..dirN from the file path relative to `root`
    (ColumnExplorer.java:142-162).

    At scale: when the layout is Hive-partitioned (`k=v`), prefer
    spark.read with basePath so Catalyst prunes directories natively;
    this helper covers Drill's bare `root/1994/Q1/...` layouts. Filters
    on dirN become filters on input_file_name(), evaluated pre-shuffle.
    """
    root_norm = os.path.abspath(root).rstrip("/")
    rel = F.regexp_replace(
        F.regexp_replace(F.input_file_name(), "^file:/+", "/"),
        "^" + re.escape(root_norm) + "/",
        "",
    )
    parts = F.split(rel, "/")
    out = df
    depth = F.size(parts) - 1  # last element is the filename
    for i in range(max_depth):
        out = out.withColumn(f"dir{i}", F.when(F.lit(i) < depth, parts[i]))
    # drop all-null trailing dirN columns eagerly (cheap: one pass over 1 row)
    keep = [f"dir{i}" for i in range(max_depth)]
    first = out.select([F.max(F.col(c).isNotNull().cast("int")).alias(c) for c in keep]).head()
    drop = [c for c in keep if not first[c]]
    return out.drop(*drop)


def read_dir_table(
    spark: SparkSession,
    root: str,
    fmt: str = "parquet",
    dir_filters: dict[int, str] | None = None,
    **options,
) -> DataFrame:
    """Directory-as-table (Drill: any directory tree is a table) with
    dirN partition columns attached.

    `root` may contain glob components (`sales/*/*`); dirN is computed
    relative to the longest glob-free prefix, matching Drill's behavior
    where the table root is the queried directory.

    `dir_filters` ({level: value}) is the scale path for Drill's
    directory pruning (planner/logical/partition/PruneScanRule.java):
    the filter becomes a path glob, so non-matching directories are
    never LISTED, let alone read — equivalent to Spark's partition
    pruning on Hive layouts. A post-scan `where dir0 = x` filter is
    correct too, but reads every footer first; pass dir_filters when
    the predicate is known up front.
    """
    base_parts = []
    for part in root.split(os.sep):
        if any(ch in part for ch in "*?[{"):
            break
        base_parts.append(part)
    base = os.sep.join(base_parts) or root
    path = root
    if dir_filters:
        levels = max(dir_filters) + 1
        segs = [dir_filters.get(i, "*") for i in range(levels)]
        path = os.path.join(base, *segs, "*")
    if fmt == "parquet":
        # schema-on-read union across files (Drill reads every footer;
        # OK_NEW_SCHEMA between batches) — mergeSchema for compatible
        # drift, widening-union fallback where Spark refuses (int→long)
        options = {"mergeSchema": "true", **options}
        try:
            df = read_auto(spark, path, fmt, options)
        except Exception as e:
            if "CANNOT_MERGE_SCHEMAS" not in str(e):
                raise
            df = read_parquet_drift(spark, path)
    else:
        df = read_auto(spark, path, fmt, options)
    return with_dir_columns(df, base)
