"""File formats: one ``FORMATS`` row per format (Drill's format plugins).

Drill resolves every file through one registry of format plugins
(FormatPluginConfig + FormatMatcher; EasyFormatPlugin lists and scans
the files). Here that registry is the ``FORMATS`` table at the bottom
of this module. A row names the format and its aliases, the file
suffixes it claims, its reader as ``"<module>.<function>"`` under
``drill_spark.readers`` (imported on first use), the table-function
options the reader accepts with their converters, and, where one
exists, its CTAS writer and its INSERT/MERGE/UPDATE/DELETE/DESCRIBE
HISTORY functions.

- ``readers.files.read_auto`` reads every format through its row.
- ``infer_format`` picks a row from a path: a delta, paimon or iceberg
  table directory first, then the path's suffix, then the first
  recognizable file in the directory tree.
- ``list_files`` and ``scan_files`` are the one file listing and the
  one "file list -> ``mapInPandas``" scan the native readers share.

Rows with ``spark`` set are Spark data sources (json, csv, xml,
parquet, orc): an option their reader does not name passes through to
Spark. Every other row raises ValueError on an option it does not
accept, so a misspelled option never silently runs with the default.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field
from importlib import import_module
from typing import Callable

_FLAGS = {"true": True, "1": True, "yes": True, "on": True,
          "false": False, "0": False, "no": False, "off": False}


def flag(v) -> bool:
    """A table-function flag: true/false, 1/0, yes/no or on/off in any
    case. Anything else raises ValueError."""
    value = _FLAGS.get(str(v).lower())
    if value is None:
        raise ValueError(f"expected true or false, got {v!r}")
    return value


def _log_fields(v: str) -> list[tuple[str, str]]:
    """``"name type, ..."`` -> [(name, type), ...]."""
    return [(n.strip(), t.strip())
            for n, _, t in (f.strip().partition(" ") for f in v.split(","))]


def load(ref: str) -> Callable:
    """The function ``"<module>.<function>"`` under drill_spark.readers."""
    module, _, fn = ref.rpartition(".")
    return getattr(import_module(f"drill_spark.readers.{module}"), fn)


@dataclass(frozen=True)
class Format:
    """One file format. ``read`` is called as ``read(spark, path,
    **kwargs)``; ``options`` maps each table-function option to
    ``(parameter, converter)``. Aliases of one parameter are listed in
    precedence order; the parameter ``"options"`` collects the option
    into the reader's options dict under its own name. ``defaults`` are
    fixed reader arguments, ``required`` options the reader cannot run
    without. ``store`` readers take the session's SchemaStore;
    ``session_flags`` maps a reader flag to the session option that
    turns it on. ``spark`` names the Spark data source that reads
    unknown options and writes the format (CTAS, INSERT) with
    ``spark_options``, which also head every read's options. The
    table-format functions are ``"<module>.<function>"`` refs:
    ``write(df, path[, partition_by=])`` (``partitions`` when it takes
    PARTITION BY), ``insert(df, path)``, ``merge``/``update``/``delete``
    as in readers/delta.py and ``history(spark, path)``."""

    names: tuple[str, ...]
    suffixes: tuple[str, ...] = ()
    read: str = "files.read_spark"
    options: dict[str, tuple[str, Callable]] = field(default_factory=dict)
    defaults: dict[str, object] = field(default_factory=dict)
    required: tuple[str, ...] = ()
    store: bool = False
    session_flags: dict[str, str] = field(default_factory=dict)
    spark: str | None = None
    spark_options: dict[str, str] = field(default_factory=dict)
    write: str | None = None
    partitions: bool = False
    insert: str | None = None
    merge: str | None = None
    update: str | None = None
    delete: str | None = None
    history: str | None = None

    @property
    def name(self) -> str:
        return self.names[0]

    def bind(self, options: dict | None) -> dict:
        """Reader keyword arguments for table-function ``options``.
        Raises ValueError for an option a native reader does not
        accept, a value its converter rejects or a missing required
        option."""
        opts = {**self.spark_options, **(options or {})}
        opts.pop("type", None)
        kwargs = dict(self.defaults)
        for key, (param, conv) in self.options.items():
            if key not in opts:
                continue
            v = opts.pop(key)
            try:
                value = conv(v)
            except ValueError as e:
                raise ValueError(
                    f"{self.name}: bad value for option `{key}` => {v!r}: {e}") from e
            if param == "options":
                kwargs.setdefault("options", {})[key] = value
            else:
                kwargs.setdefault(param, value)
        if opts and self.spark is None:
            raise ValueError(
                f"{self.name}: unknown option(s) {', '.join(sorted(opts))}; "
                f"accepted: {', '.join(self.options) or 'none'}")
        if opts:
            kwargs.setdefault("options", {}).update(opts)
        for key in self.required:
            if self.options[key][0] not in kwargs:
                raise ValueError(f"the {self.name} format requires the `{key}` option")
        return kwargs


def _spark_row(name: str, suffixes: tuple[str, ...] = ()) -> Format:
    """A format Spark reads and writes by name."""
    return Format((name,), suffixes, options=_SCHEMA,
                  defaults={"fmt": name}, spark=name)


def row(name: str) -> Format:
    """The row for format ``name`` or one of its aliases (any case);
    names not in the table are Spark data sources."""
    name = name.lower()
    return _BY_NAME.get(name) or _spark_row(name)


def _suffix_format(name: str) -> str | None:
    name = name.lower()
    return next((f for suf, f in _BY_SUFFIX if name.endswith(suf)), None)


def _table_format(path: str) -> str | None:
    """delta, paimon or iceberg when ``path`` is such a table's root
    (DeltaFormatMatcher / IcebergFormatMatcher match directories, not
    suffixes)."""
    if os.path.isdir(os.path.join(path, "_delta_log")):
        return "delta"
    snapshot = os.path.join(path, "snapshot")
    if os.path.isdir(snapshot) and any(
            f.startswith("snapshot-") or f == "LATEST" for f in os.listdir(snapshot)):
        return "paimon"
    metadata = os.path.join(path, "metadata")
    if os.path.isdir(metadata) and any(
            f.endswith(".metadata.json") for f in os.listdir(metadata)):
        return "iceberg"
    return None


def infer_format(path: str, default: str, _depth: int = 3) -> str:
    """The format name of ``path``: a table-format directory, else the
    path's suffix, else the first entry of a directory whose suffix is
    known, descending into partition subdirectories (Hive ``k=v``
    layouts put data one or more levels down); ``default`` when
    nothing is recognized."""
    found = _table_format(path) or _suffix_format(path.rstrip("/"))
    if found or not _depth or not os.path.isdir(path):
        return found or default
    entries = sorted(os.listdir(path))
    found = next(filter(None, map(_suffix_format, entries)), None)
    if found:
        return found
    for e in entries:
        sub = os.path.join(path, e)
        if os.path.isdir(sub):
            found = infer_format(sub, "", _depth - 1)
            if found:
                return found
    return default


def list_files(path, *fmts: str) -> list[str]:
    """The input files of a scan of formats ``fmts`` at ``path``.

    A directory is listed recursively and sorted, keeping the files
    whose suffix (any case) belongs to one of the formats (every file
    for a format without suffixes) and skipping dot-files and
    dot-directories. A glob pattern is expanded and sorted; matched
    directories are listed the same way and matched files filtered by
    suffix. A single file path and an explicit list pass through
    unchanged. Raises FileNotFoundError when nothing is left."""
    if isinstance(path, (list, tuple)):
        return list(path)
    suffixes = tuple(s for f in fmts for s in FORMATS[f].suffixes)

    def wanted(name: str) -> bool:
        return not suffixes or name.lower().endswith(suffixes)

    def walk(d: str) -> list[str]:
        out = []
        for root, dirs, names in os.walk(d):
            dirs[:] = [x for x in dirs if not x.startswith(".")]
            out += [os.path.join(root, n) for n in names
                    if not n.startswith(".") and wanted(n)]
        return out

    if os.path.isdir(path):
        files = walk(path)
    elif glob.has_magic(path):
        files = [f for m in glob.glob(path)
                 for f in (walk(m) if os.path.isdir(m) else [m] if wanted(m) else [])]
    else:
        files = [path]
    if not files:
        raise FileNotFoundError(f"no {'/'.join(fmts)} files at {path}")
    return sorted(files)


def scan_files(spark, items: list, decode: Callable, schema):
    """``mapInPandas(decode, schema)`` over ``items``: file paths (a
    ``path`` column) or ``(path, start, end)`` byte ranges, spread over
    ``min(len(items), defaultParallelism)`` partitions."""
    ranges = isinstance(items[0], tuple)
    frame = spark.createDataFrame(
        items if ranges else [(p,) for p in items],
        "path string, start long, end long" if ranges else "path string")
    n = min(len(items), spark.sparkContext.defaultParallelism)
    return frame.repartition(n).mapInPandas(decode, schema)


_SCHEMA = {"schema": ("schema", str)}
_CSV = {"extractHeader": ("header", flag), "header": ("header", flag),
        "delimiter": ("delimiter", str), "fieldDelimiter": ("delimiter", str),
        **_SCHEMA}
_SPLIT = {"splitBytes": ("split_bytes", int), "split_bytes": ("split_bytes", int)}


def _dict_options(*keys: str) -> dict[str, tuple[str, Callable]]:
    """Options a reader takes as one ``options`` dict."""
    return {k: ("options", str) for k in keys}


FORMATS: dict[str, Format] = {f.name: f for f in (
    # Spark data sources
    Format(("json",), (".json",), "files.read_json", store=True, spark="json",
           options={"all_text_mode": ("all_text_mode", flag),
                    "allTextMode": ("all_text_mode", flag),
                    "union_type": ("union_mode", flag),
                    "unionType": ("union_mode", flag), **_SCHEMA},
           session_flags={"all_text_mode": "store.json.all_text_mode",
                          "union_mode": "exec.enable_union_type"}),
    Format(("csv", "text"), (".csv",), "files.read_csv", _CSV, store=True, spark="csv"),
    Format(("tsv",), (".tsv",), "files.read_csv", _CSV, store=True, spark="csv",
           spark_options={"delimiter": "\t"}),
    Format(("psv",), (".psv",), "files.read_csv", _CSV, store=True, spark="csv",
           spark_options={"delimiter": "|"}),
    Format(("xml",), (".xml",), "files.read_xml", _SCHEMA, store=True, spark="xml"),
    Format(("parquet",), (".parquet",), options={**_SCHEMA, "predicate": ("predicate", str)},
           defaults={"fmt": "parquet"}, spark="parquet"),
    _spark_row("orc", (".orc",)),
    # native readers
    Format(("log",), (), "logs.read_log",
           {"regex": ("regex", str), "schema": ("fields", _log_fields)},
           required=("regex", "schema")),
    Format(("httpd",), (), "logs.read_httpd_log"),
    Format(("syslog",), (), "logs.read_syslog"),
    Format(("ltsv",), (".ltsv",), "files.read_ltsv", _SCHEMA),
    Format(("excel", "xlsx"), (".xlsx",), "files.read_excel",
           {"sheet": ("sheet", str), "extractHeader": ("header", flag),
            "header": ("header", flag)}),
    Format(("sequencefile",), (), "files.read_sequencefile"),
    Format(("avro",), (".avro",), "avro.read_avro", write="avro.write_avro"),
    Format(("warc",), (".warc", ".warc.gz"), "warc.read_warc", _SPLIT,
           write="warc.write_warc"),
    Format(("wet",), (".wet", ".wet.gz"), "warc.read_wet", _SPLIT,
           write="warc.write_wet"),
    Format(("wat",), (".wat", ".wat.gz"), "warc.read_wat", _SPLIT,
           write="warc.write_wat"),
    Format(("arc",), (".arc", ".arc.gz"), "arc.read_arc", _SPLIT),
    Format(("pcap",), (".pcap",), "pcap.read_pcap"),
    Format(("pcapng",), (".pcapng",), "pcapng.read_pcapng", {"stat": ("stat", flag)}),
    Format(("shp", "esri", "shapefile"), (".shp",), "esri.read_shp"),
    Format(("image",), (".png", ".jpg", ".jpeg", ".gif", ".bmp"), "image.read_images"),
    Format(("spss", "sav"), (".sav",), "spss.read_sav"),
    Format(("sas", "sas7bdat"), (".sas7bdat",), "sas.read_sas"),
    Format(("msaccess", "access", "mdb", "accdb"), (".mdb", ".accdb"),
           "msaccess.read_access",
           {"tableName": ("table_name", str), "table_name": ("table_name", str)}),
    Format(("pdf",), (".pdf",), "pdf.read_pdf",
           {"combinePages": ("combine_pages", flag),
            "extractHeaders": ("extract_headers", flag),
            "defaultTableIndex": ("default_table_index", int),
            "extractionAlgorithm": ("algorithm", str),
            "password": ("password", str)}),
    Format(("hdf5", "h5"), (".h5", ".hdf5"), "hdf5.read_hdf5",
           _dict_options("defaultPath", "default_path")),
    Format(("daffodil", "dfdl"), (), "dfdl.read_dfdl",
           {"schemaURI": ("schema_uri", str), "schema_uri": ("schema_uri", str),
            "rootName": ("root_name", str), "root_name": ("root_name", str),
            "rootNamespace": ("root_namespace", str),
            "validationMode": ("validation_mode", flag)},
           required=("schemaURI",)),
    # table formats: directories recognized by _table_format
    Format(("delta", "deltalake"), (), "delta.read_delta",
           _dict_options("versionAsOf", "version_as_of", "timestampAsOf",
                         "timestamp_as_of", "predicate"),
           write="delta.write_delta", partitions=True, insert="delta.append_delta",
           merge="delta.merge_into", update="delta.update_where",
           delete="delta.delete_where", history="delta.describe_history"),
    Format(("iceberg",), (), "iceberg.read_iceberg",
           _dict_options("snapshot-id", "snapshotId", "as-of-timestamp",
                         "asOfTimestamp", "predicate"),
           write="iceberg.write_iceberg", insert="iceberg.append_iceberg",
           merge="iceberg.merge_into", update="iceberg.update_where",
           delete="iceberg.delete_where", history="iceberg.describe_history"),
    Format(("paimon",), (), "paimon.read_paimon",
           _dict_options("snapshot-id", "snapshot_id"),
           write="paimon.write_paimon", update="paimon.update_where",
           delete="paimon.delete_where"),
)}

_BY_NAME = {n: f for f in FORMATS.values() for n in f.names}
_BY_SUFFIX = [(s, f.name) for f in FORMATS.values() for s in f.suffixes]
