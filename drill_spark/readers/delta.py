"""Delta Lake table reader/writer — no external connector jar.

Drill reads Delta through a format plugin that parses the transaction
log and plans parquet sub-scans (reference: contrib/format-deltalake/
src/main/java/org/apache/drill/exec/store/delta/DeltaRowGroupScan.java,
format/DeltaFormatPlugin.java, snapshot discovery in
format/DeltaFormatMatcher.java). The delta-spark connector jar is not
bundled in this environment, so this module implements the public
Delta Lake transaction-log protocol
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md) directly:

- **snapshot reconstruction**: ``_delta_log/_last_checkpoint`` (if
  present) names a parquet checkpoint holding the compacted action
  state; JSON commit files after (or from 0 without a checkpoint) are
  replayed in version order. ``add`` inserts a file into the active
  set, ``remove`` deletes it (last action per path wins — the Delta
  reconciliation rule), ``metaData`` carries the table schema as a
  Spark-JSON ``schemaString`` plus ``partitionColumns``.
- **partition columns**: Delta does NOT store partition columns in the
  data files; each ``add`` carries ``partitionValues`` as strings. The
  scan reads the data files once and re-attaches partition values via
  a broadcast path→values map joined on ``input_file_name()``, cast to
  the declared types — one distributed read, no per-partition unions.
- **deletion vectors**: ``add.deletionVector`` descriptors
  (readers/delta_dv.py implements the spec's RoaringBitmapArray +
  Z85 + DV-file framing) are applied as an anti-join on
  ``(_metadata.file_path, _metadata.row_index)`` — merge-on-read,
  the same semantics delta-standalone gives the reference. Small DV
  totals decode on the driver and broadcast; past
  ``_DV_DRIVER_DECODE_MAX`` the descriptors explode to rows in
  EXECUTORS via mapInPandas with AQE picking the join — the driver
  never materializes per-row tuples. ``delete_where`` writes them
  (row-level DELETE without rewriting data files).
- **column mapping** (``delta.columnMapping.mode`` name/id): data files
  are read under each column's ``delta.columnMapping.physicalName``
  (recursively for nested structs) and restored to logical names.
- **protocol gate**: tables whose ``protocol`` action demands reader
  features beyond these (e.g. type widening, v2 checkpoint variants we
  don't parse) raise ``NotImplementedError`` naming the feature, never
  silently-wrong rows.
- **time travel**: ``versionAsOf`` stops the log replay at a version;
  ``timestampAsOf`` resolves the latest commit at-or-before a
  timestamp from commitInfo times; ``describe_history`` lists every
  commit (version/timestamp/operation).
- **DML + maintenance**: ``delete_where`` (DV-only), ``update_where``
  and ``merge_into`` (one atomic commit: executor-built DVs + new data
  files), ``optimize`` (bin-packing compaction + DV purge), ``vacuum``
  (retention-windowed orphan cleanup), ``restore_table`` (time-travel
  write: one log-only commit re-establishes an earlier snapshot's
  file set), ``write_checkpoint`` (classic
  checkpoint + _last_checkpoint, auto every CHECKPOINT_INTERVAL
  commits), ``table_changes`` (CDF-style feed reconstructed from the
  log incl. DV diffs), and txn transaction identifiers for idempotent
  streaming sinks (streaming/events.stream_to_delta).

Scale: the transaction log is metadata — KB-scale JSON per commit plus
one parquet checkpoint — and is processed on the driver exactly like
the reference's DeltaFormatPlugin (and delta-spark's own Snapshot
class) does; the data scan itself is a single distributed
``spark.read.parquet`` over the active file list with the log-derived
schema pinned, so filter pushdown / column pruning / AQE all apply
unchanged. For a 100 TB table the active-file list (~1M path strings)
is a few hundred MB on the driver — the same order every Delta engine
carries — and checkpoint parquet is read through Spark, not Python,
when it is large.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from drill_spark.readers.delta_stats import (
    file_stats_json,
    prune_snapshot_files,
    zorder_expression,
)

_SUPPORTED_READER_FEATURES = {
    "timestampNtz",
    "vacuumProtocolCheck",
    "v2Checkpoint",
    "deletionVectors",
    "columnMapping",
}


def _pv_from_rel(rel: str, partition_columns: list[str]) -> dict:
    """Partition values parsed from a hive-layout relative path (the
    single source of truth for every commit writer)."""
    pv = {}
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            if k in partition_columns:
                pv[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    return pv


def _log_dir(path: str) -> str:
    d = os.path.join(path, "_delta_log")
    if not os.path.isdir(d):
        raise FileNotFoundError(f"not a Delta table (no _delta_log): {path}")
    return d


def _commit_files(log_dir: str) -> list[tuple[int, str]]:
    out = []
    for name in os.listdir(log_dir):
        if name.endswith(".json") and name[:-5].isdigit():
            out.append((int(name[:-5]), os.path.join(log_dir, name)))
    return sorted(out)


def _check_protocol(proto: dict) -> None:
    if not proto:
        return
    reader_version = proto.get("minReaderVersion", 1)
    features = set(proto.get("readerFeatures") or [])
    unsupported = features - _SUPPORTED_READER_FEATURES
    if reader_version >= 3 and unsupported:
        raise NotImplementedError(
            f"Delta reader features not supported here: {sorted(unsupported)}"
        )
    # minReaderVersion 2 = column mapping, which is supported


class DeltaSnapshot:
    """State of a Delta table at a version: schema, partition columns,
    the active data files with their partition values and deletion
    vectors, and the column-mapping mode."""

    def __init__(self, schema: T.StructType, partition_columns: list[str],
                 files: dict[str, dict], version: int,
                 column_mapping_mode: str = "none", protocol: dict | None = None,
                 meta: dict | None = None, txns: dict[str, int] | None = None,
                 tombstones: dict[tuple, dict] | None = None):
        self.schema = schema
        self.partition_columns = partition_columns
        self.files = files  # path -> {"pv": partitionValues, "dv": descriptor|None}
        self.version = version
        self.column_mapping_mode = column_mapping_mode
        self.protocol = protocol or {}
        self.meta = meta or {}  # raw metaData action (checkpoint writing)
        self.txns = txns or {}  # appId -> latest txn version (idempotent sinks)
        # (path, dvUniqueId) -> raw remove action, for removes NOT superseded
        # by a later add of the same key: the unexpired tombstones a
        # checkpoint must carry so VACUUM keeps honoring the retention
        # window after JSON log cleanup (PROTOCOL.md "Checkpoints")
        self.tombstones = tombstones or {}


def load_snapshot(spark: SparkSession, path: str,
                  version_as_of: int | None = None) -> DeltaSnapshot:
    from drill_spark.readers.delta_dv import descriptor_unique_id

    log_dir = _log_dir(path)
    # Reconciliation key is (path, DV unique id) per the protocol's
    # "Action Reconciliation" — a DV update commits remove(path, oldDV)
    # + add(path, newDV) in unspecified order, so keying by path alone
    # would drop the file when the remove happens to follow the add.
    active: dict[tuple, dict] = {}
    tombstones: dict[tuple, dict] = {}
    meta: dict = {}
    proto: dict = {}
    txns: dict[str, int] = {}
    start_version = 0

    def apply_add(a: dict) -> None:
        dv = a.get("deletionVector") or None
        key = (a["path"], descriptor_unique_id(dv))
        active[key] = {
            "pv": a.get("partitionValues") or {},
            "dv": dv,
            "stats": a.get("stats") or None,  # per-file skipping stats
        }
        tombstones.pop(key, None)  # re-add supersedes the tombstone

    def apply_remove(r: dict) -> None:
        # Reconciliation key is (path, dvId) even when the remove has no
        # DV: remove(path, null) cancels only add(path, null). A commit
        # that attaches a DV to a plain file carries add(path, newDV) +
        # remove(path, null) in unspecified order — popping every
        # (path, *) entry here would drop the freshly-added DV entry and
        # silently lose the whole file.
        dv = r.get("deletionVector") or None
        key = (r["path"], descriptor_unique_id(dv))
        active.pop(key, None)
        tombstones[key] = r

    ckpt_file = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(ckpt_file) and version_as_of is None:
        import glob as _glob

        with open(ckpt_file) as f:
            last = json.load(f)
        v = last["version"]
        parts = last.get("parts")
        if parts:
            names = [
                os.path.join(log_dir, f"{v:020d}.checkpoint.{i + 1:010d}.{parts:010d}.parquet")
                for i in range(parts)
            ]
        else:
            classic = os.path.join(log_dir, f"{v:020d}.checkpoint.parquet")
            if os.path.exists(classic):
                names = [classic]
            else:
                # v2 checkpoint: UUID-named (<v>.checkpoint.<uuid>.parquet)
                names = sorted(_glob.glob(
                    os.path.join(_glob.escape(log_dir), f"{v:020d}.checkpoint.*.parquet")
                ))
                if not names:
                    raise FileNotFoundError(f"checkpoint for version {v} missing")
        # checkpoint can be wide/large — read it through Spark, collect
        # only the action columns we reconcile; v2 checkpoints push the
        # add/remove actions into sidecar files referenced by `sidecar`
        # actions, read the same way
        queue = list(names)
        while queue:
            batch, queue = queue, []
            ck = spark.read.parquet(*batch)
            cols = [c for c in ("add", "remove", "metaData", "protocol", "sidecar", "txn")
                    if c in ck.columns]
            for row in ck.select(*cols).toLocalIterator():
                d = row.asDict(recursive=True)
                if d.get("add"):
                    apply_add(d["add"])
                elif d.get("remove"):
                    apply_remove(d["remove"])
                elif d.get("metaData") and d["metaData"].get("schemaString"):
                    meta = d["metaData"]
                elif d.get("protocol") and d["protocol"].get("minReaderVersion") is not None:
                    proto = d["protocol"]
                elif d.get("txn") and d["txn"].get("appId"):
                    txns[d["txn"]["appId"]] = int(d["txn"]["version"])
                elif d.get("sidecar") and d["sidecar"].get("path"):
                    sp = d["sidecar"]["path"]
                    queue.append(sp if os.path.isabs(sp)
                                 else os.path.join(log_dir, "_sidecars", sp))
        start_version = v + 1

    replayed = start_version - 1
    for v, fpath in _commit_files(log_dir):
        if v < start_version:
            continue
        if version_as_of is not None and v > version_as_of:
            break
        with open(fpath) as f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    apply_add(action["add"])
                elif "remove" in action:
                    apply_remove(action["remove"])
                elif "metaData" in action:
                    meta = action["metaData"]
                elif "protocol" in action:
                    proto = action["protocol"]
                elif "txn" in action:
                    txns[action["txn"]["appId"]] = int(action["txn"]["version"])
        replayed = v
    if version_as_of is not None and replayed < version_as_of:
        raise ValueError(f"versionAsOf={version_as_of} > latest version {replayed}")
    _check_protocol(proto)
    if not meta:
        raise ValueError(f"Delta log at {path} has no metaData action")
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    files = {p: entry for (p, _uid), entry in active.items()}
    mode = (meta.get("configuration") or {}).get("delta.columnMapping.mode", "none")
    # tombstone keys are disjoint from active (apply_add pops the same
    # key), so a remove(path, oldDV) survives here even while the path
    # stays live under a newer DV — exactly the record VACUUM needs for
    # the superseded DV file's removal time
    return DeltaSnapshot(schema, meta.get("partitionColumns") or [], files, replayed,
                         mode, proto, meta, txns, tombstones)


_MAX_PARTITION_BRANCHES = 256

# Features implied by the legacy (pre-table-features) protocol versions,
# materialized into the explicit lists when an upgrade crosses to
# minReaderVersion 3 / minWriterVersion 7 (PROTOCOL.md "Table Features").
_LEGACY_READER_FEATURES = {2: ["columnMapping"]}
_LEGACY_WRITER_FEATURES = {
    2: ["appendOnly", "invariants"],
    3: ["checkConstraints"],
    4: ["generatedColumns", "changeDataFeed"],
    5: ["columnMapping"],
    6: ["identityColumns"],
}


def _upgrade_protocol(proto: dict, feature: str) -> dict:
    """The table's existing protocol upgraded to the table-features form
    with one more reader-writer ``feature`` unioned in — never a
    replacement, so declarations like timestampNtz/v2Checkpoint that the
    data still depends on survive the upgrade."""
    proto = proto or {}
    r_old = proto.get("minReaderVersion", 1)
    w_old = proto.get("minWriterVersion", 2)
    reader = set(proto.get("readerFeatures") or [])
    writer = set(proto.get("writerFeatures") or [])
    if r_old < 3:
        for v, feats in _LEGACY_READER_FEATURES.items():
            if r_old >= v:
                reader.update(feats)
    if w_old < 7:
        for v, feats in _LEGACY_WRITER_FEATURES.items():
            if w_old >= v:
                writer.update(feats)
    reader.add(feature)
    writer |= reader  # reader-writer features are listed in both
    return {"minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": sorted(reader), "writerFeatures": sorted(writer)}


def _physical_name(f: T.StructField) -> str:
    return (f.metadata or {}).get("delta.columnMapping.physicalName", f.name)


def _physical_type(dt: T.DataType) -> T.DataType:
    """Recursively rename struct fields to their column-mapping physical
    names (what the parquet data files actually store)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(_physical_name(f), _physical_type(f.dataType), f.nullable)
             for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_physical_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _physical_type(dt.keyType), _physical_type(dt.valueType), dt.valueContainsNull
        )
    return dt


def _clean_type(dt: T.DataType) -> T.DataType:
    """The logical type with column-mapping metadata stripped (cast
    target when restoring logical nested-field names)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _clean_type(f.dataType), f.nullable) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_clean_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(_clean_type(dt.keyType), _clean_type(dt.valueType), dt.valueContainsNull)
    return dt


def _norm_uri(col):
    """Normalize Spark's file:///-style _metadata.file_path /
    input_file_name() to a plain absolute filesystem path for comparison
    with log-derived paths. Spark emits these as URIs, so special
    characters are percent-encoded (space -> %20) and must be decoded or
    the DV anti-join keys silently mismatch. A literal ``+`` is
    protected first because url_decode's form semantics would turn it
    into a space (a real ``+`` is never percent-encoded in a URI path)."""
    stripped = F.regexp_replace(col, "^file:/*", "/")
    return F.url_decode(F.regexp_replace(stripped, r"\+", "%2B"))


# Total DV cardinality up to which deleted-row identities are decoded on
# the driver (one createDataFrame, no extra jobs). Beyond it — or when a
# descriptor carries no cardinality — descriptors ship to executors and
# each DV explodes to (file, row_index) rows inside mapInPandas, so the
# driver never materializes per-row tuples no matter how many billions
# of rows the table's DVs mask.
_DV_DRIVER_DECODE_MAX = 1 << 17


def _dv_pairs_df(spark: SparkSession, table_path: str,
                 entries: list[tuple[str, dict]]) -> tuple[DataFrame, bool]:
    """(__fp, __ri) deleted-row identities for ``entries`` =
    [(abs file path, DV descriptor), ...]. Returns (df, small) where
    ``small`` says the driver decoded it (caller may broadcast the
    anti-join); otherwise the decode runs in executors and the join
    strategy is left to AQE."""
    from drill_spark.readers.delta_dv import read_descriptor

    total = 0
    small = True
    for _fp, desc in entries:
        card = desc.get("cardinality")
        if card is None:
            small = False
            break
        total += int(card)
        if total > _DV_DRIVER_DECODE_MAX:
            small = False
            break
    if small:
        deleted = [(fp, int(ri))
                   for fp, desc in entries
                   for ri in read_descriptor(table_path, desc)]
        return spark.createDataFrame(deleted, "__fp string, __ri bigint"), True

    rows = [(fp, json.dumps(desc)) for fp, desc in entries]
    n_slices = min(len(rows), spark.sparkContext.defaultParallelism)
    desc_df = (
        spark.createDataFrame(rows, "__fp string, __desc string")
        .repartition(n_slices)
    )
    tp = table_path

    def _explode(batches):
        import pandas as pd

        from drill_spark.readers.delta_dv import read_descriptor as _rd

        for pdf in batches:
            for fp, dj in zip(pdf["__fp"], pdf["__desc"]):
                ris = _rd(tp, json.loads(dj))
                yield pd.DataFrame(
                    {"__fp": fp, "__ri": pd.Series(ris, dtype="int64")}
                )

    return desc_df.mapInPandas(_explode, "__fp string, __ri bigint"), False


def _dv_positions_df(spark: SparkSession, table_path: str,
                     desc: dict) -> tuple[DataFrame, bool]:
    """Single-file variant of _dv_pairs_df: just the row indexes
    (``__ri``) of one descriptor, executor-decoded past the threshold."""
    pairs, small = _dv_pairs_df(spark, table_path, [("", desc)])
    return pairs.select("__ri"), small


def read_delta(spark: SparkSession, path: str,
               options: dict | None = None,
               _snapshot_override: "DeltaSnapshot | None" = None) -> DataFrame:
    """Read a Delta table at its latest (or ``versionAsOf``) snapshot.

    Partitioned tables: when the snapshot has at most
    ``_MAX_PARTITION_BRANCHES`` distinct partition-value combinations,
    the scan is a UNION of one parquet read per combination with the
    partition values attached as typed literals — so a filter on a
    partition column constant-folds inside each branch and Catalyst
    prunes non-matching branches (and their file listings) at plan
    time, exactly what Delta's own data-skipping does with the log.
    Beyond the cap, a broadcast ``input_file_name``→values map joins
    the values back instead (one flat scan, no pruning).

    Files carrying deletion vectors are read with parquet row indexes
    (``_metadata.row_index``) and anti-joined against the deleted-
    (file,row) set — merge-on-read. Small DV totals (by descriptor
    cardinality) decode on the driver and broadcast; past
    ``_DV_DRIVER_DECODE_MAX`` the descriptors ship to executors and
    explode to rows there (_dv_pairs_df), with AQE choosing the join
    strategy — the driver never holds per-row tuples.
    """
    opts = options or {}
    version = opts.get("versionAsOf", opts.get("version_as_of"))
    ts = opts.get("timestampAsOf", opts.get("timestamp_as_of"))
    if ts is not None:
        if version is not None:
            raise ValueError("give versionAsOf OR timestampAsOf, not both")
        version = version_at_timestamp(path, ts)
    if _snapshot_override is not None:
        snap = _snapshot_override
    else:
        snap = load_snapshot(spark, path, int(version) if version is not None else None)

    # ---- stats-based file skipping (driver-side, before any I/O) ----
    # `predicate =>` prunes the file list with per-file add.stats and
    # partition values, then re-applies as a REAL filter below — files
    # without stats are kept and unparseable predicates prune nothing,
    # so results are exact regardless of stats coverage.
    predicate = opts.get("predicate")
    if predicate:
        name_map = (
            {f.name: _physical_name(f) for f in snap.schema.fields}
            if snap.column_mapping_mode in ("name", "id") else None
        )
        kept, _ = prune_snapshot_files(snap, predicate, name_map)
        snap = DeltaSnapshot(snap.schema, snap.partition_columns, kept,
                             snap.version, snap.column_mapping_mode,
                             snap.protocol, snap.meta, snap.txns,
                             snap.tombstones)

    if not snap.files:
        out = spark.createDataFrame([], _clean_type(snap.schema))
        return out.where(F.expr(predicate)) if predicate else out

    mapped = snap.column_mapping_mode in ("name", "id")
    data_fields = [f for f in snap.schema.fields if f.name not in snap.partition_columns]
    phys_schema = T.StructType(
        [T.StructField(_physical_name(f), _physical_type(f.dataType), f.nullable)
         for f in data_fields]
        if mapped
        else [T.StructField(f.name, _clean_type(f.dataType), f.nullable) for f in data_fields]
    )
    by_type = {f.name: _clean_type(f.dataType) for f in snap.schema.fields}
    # under column mapping, add.partitionValues is keyed by PHYSICAL name
    pv_key = {
        f.name: (_physical_name(f) if mapped else f.name)
        for f in snap.schema.fields
        if f.name in snap.partition_columns
    }

    def abs_path(p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(path, p)

    def pv_of(entry: dict, c: str):
        pv = entry.get("pv") or {}
        return pv.get(pv_key[c], pv.get(c))

    has_dv = any(e.get("dv") for e in snap.files.values())

    def scan(paths: list[str]) -> DataFrame:
        b = spark.read.schema(phys_schema).parquet(*paths)
        if has_dv:
            b = b.select(
                "*",
                _norm_uri(F.col("_metadata.file_path")).alias("__fp"),
                F.col("_metadata.row_index").alias("__ri"),
            )
        return b

    extra = ["__fp", "__ri"] if has_dv else []

    # ---- read data files, attaching partition values ----
    if not snap.partition_columns:
        out = scan([abs_path(p) for p in snap.files])
    else:
        groups: dict[tuple, list[str]] = {}
        for p, entry in snap.files.items():
            key = tuple(pv_of(entry, c) for c in snap.partition_columns)
            groups.setdefault(key, []).append(abs_path(p))
        phys_cols = [f.name for f in phys_schema.fields]
        # with DVs the per-partition union would replicate the anti-join
        # broadcast into every branch; one flat scan + one anti-join wins
        if not has_dv and len(groups) <= _MAX_PARTITION_BRANCHES:
            branches = []
            for key, paths in groups.items():
                b = scan(paths)
                for c, v in zip(snap.partition_columns, key):
                    b = b.withColumn(c, F.lit(v).cast(by_type[c]))
                branches.append(b.select(*phys_cols, *snap.partition_columns, *extra))
            out = branches[0]
            for b in branches[1:]:
                out = out.unionAll(b)
        else:
            # one broadcast map file-path -> partition value strings
            pv_rows = [
                {"__file": abs_path(p),
                 **{f"__pv_{c}": pv_of(e, c) for c in snap.partition_columns}}
                for p, e in snap.files.items()
            ]
            pv_schema = T.StructType(
                [T.StructField("__file", T.StringType())]
                + [T.StructField(f"__pv_{c}", T.StringType()) for c in snap.partition_columns]
            )
            pv = spark.createDataFrame(pv_rows, pv_schema)
            df = scan([p for paths in groups.values() for p in paths])
            file_col = F.col("__fp") if has_dv else _norm_uri(F.input_file_name())
            out = (
                df.withColumn("__file", file_col)
                .join(F.broadcast(pv), "__file")
                .drop("__file")
            )
            for c in snap.partition_columns:
                out = out.withColumn(c, F.col(f"__pv_{c}").cast(by_type[c])).drop(f"__pv_{c}")

    # ---- apply deletion vectors (merge-on-read) ----
    if has_dv:
        entries = [(abs_path(p), e["dv"]) for p, e in snap.files.items()
                   if e.get("dv")]
        del_df, small = _dv_pairs_df(spark, path, entries)
        if small:
            del_df = F.broadcast(del_df)
        out = out.join(del_df, ["__fp", "__ri"], "left_anti").drop("__fp", "__ri")

    # ---- restore logical column names ----
    if mapped:
        sel = [
            F.col(f.name)
            if f.name in snap.partition_columns
            else F.col(_physical_name(f)).cast(_clean_type(f.dataType)).alias(f.name)
            for f in snap.schema.fields
        ]
        out = out.select(*sel)
    else:
        out = out.select(*[f.name for f in snap.schema.fields])
    # exactness backstop for file skipping: the predicate runs as a
    # normal Catalyst filter over the surviving files
    return out.where(F.expr(predicate)) if predicate else out


def write_delta(df: DataFrame, path: str, partition_by: list[str] | None = None,
                mode: str = "error", txn: tuple[str, int] | None = None) -> None:
    """Write a DataFrame as a new Delta table (single commit).

    A minimal but protocol-conformant writer: data files go out through
    Spark's distributed parquet writer, then one ``%020d.json`` commit
    records protocol/metaData/add actions. Append mode adds a new
    commit on top of the existing log. (Concurrent-writer arbitration —
    optimistic re-check of the log tail — is out of scope; single
    writer per table, which is all CTAS needs.)

    ``txn=(appId, version)`` stamps the commit with a ``txn`` action
    (PROTOCOL.md "Transaction Identifiers") — the idempotence handle a
    streaming sink uses to make micro-batch replays exactly-once:
    before re-writing batch N it checks ``load_snapshot(...).txns``.
    """
    import time
    import uuid

    log_dir = os.path.join(path, "_delta_log")
    # A table whose JSON commits were cleaned up after checkpointing
    # still EXISTS (its state lives in the checkpoint) — keying
    # existence on JSON files alone would silently restart the log at
    # version 0 and make the append invisible to snapshot replay.
    exists = os.path.isdir(log_dir) and bool(
        _commit_files(log_dir)
        or os.path.exists(os.path.join(log_dir, "_last_checkpoint"))
    )
    if exists and mode == "error":
        raise ValueError(f"Delta table already exists at {path}")
    if exists and mode == "overwrite":
        raise NotImplementedError("overwrite of an existing Delta table not supported")

    partition_by = partition_by or []
    data_schema = [c for c in df.columns if c not in partition_by]
    writer = df.write.mode("append").format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    before = _existing_parquet(path)
    writer.save(path)
    new_files = [p for p in _existing_parquet(path) if p not in before]

    os.makedirs(log_dir, exist_ok=True)
    # next version via snapshot replay, which reconciles _last_checkpoint
    # — max(JSON commits) alone breaks after checkpoint-based log cleanup
    version = (load_snapshot(df.sparkSession, path).version + 1) if exists else 0
    now_ms = int(time.time() * 1000)
    actions = []
    if version == 0:
        actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
        actions.append({
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": df.schema.json(),
                "partitionColumns": partition_by,
                "configuration": {},
                "createdTime": now_ms,
            }
        })
    for rel in new_files:
        pv = _pv_from_rel(rel, partition_by)
        f_abs = os.path.join(path, rel)
        actions.append({
            "add": {
                "path": rel,
                "partitionValues": pv,
                "size": os.path.getsize(f_abs),
                "modificationTime": now_ms,
                "dataChange": True,
                # footer-derived per-file stats: the reader's file
                # skipping (read_delta predicate option) prunes on these
                "stats": file_stats_json(f_abs),
            }
        })
    if txn is not None:
        actions.append({"txn": {"appId": txn[0], "version": int(txn[1]),
                                "lastUpdated": now_ms}})
    actions.append({
        "commitInfo": {"timestamp": now_ms,
                       "operation": "WRITE" if version else "CREATE TABLE AS SELECT"}
    })
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    _maybe_checkpoint(df.sparkSession, path, version)


def append_delta(df: DataFrame, path: str) -> None:
    """INSERT INTO a Delta table: one append commit."""
    write_delta(df, path, mode="append")


class BatchLedger:
    """Exactly-once batch bookkeeping for an incremental operator's
    Delta store. Each commit carries the txn key ``<app_id>#batch<N>``,
    so batch N replays only if N itself was committed; comparing N
    with the newest batch would read a skipped id as a replay and
    return an empty result. A store written before per-batch keys has
    only the ``app_id`` key: every id at or below its version replays.
    An id at or below the high-water mark that was never committed
    raises.

    ``store`` is the store's rows (None before the first commit),
    ``batch_id`` the resolved id (default: high-water mark + 1) and
    ``replay`` whether that batch is already committed."""

    def __init__(self, spark: SparkSession, path: str, app_id: str,
                 batch_id: int | None, op: str):
        self.path, self.store = path, None
        committed: set[int] = set()
        legacy = -1
        if os.path.isdir(os.path.join(path, "_delta_log")):
            txns = load_snapshot(spark, path).txns
            prefix = f"{app_id}#batch"
            committed = {int(k[len(prefix):]) for k in txns
                         if k.startswith(prefix)}
            legacy = txns.get(app_id, -1)
            self.store = read_delta(spark, path)
        last = max(max(committed, default=-1), legacy)
        self.batch_id = last + 1 if batch_id is None else int(batch_id)
        self.replay = self.batch_id in committed or 0 <= self.batch_id <= legacy
        if not self.replay and self.batch_id <= last:
            raise ValueError(
                f"{op}: batch_id {self.batch_id} is at or below the store's "
                f"high-water mark ({last}) but was never committed; batch "
                f"ids must be assigned monotonically (pass batch_id=None "
                f"to auto-assign)")
        self._txn = (f"{app_id}#batch{self.batch_id}", self.batch_id)

    def commit(self, rows: DataFrame) -> None:
        """Append this batch's store rows under its txn key."""
        write_delta(rows, self.path,
                    mode="error" if self.store is None else "append",
                    txn=self._txn)


def _commit_timestamps(path: str) -> list[tuple[int, int]]:
    """(version, commit timestamp ms) per commit — from the commitInfo
    action, falling back to the file mtime."""
    out = []
    for v, fpath in _commit_files(_log_dir(path)):
        ts = None
        with open(fpath) as f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "commitInfo" in action and action["commitInfo"].get("timestamp"):
                    ts = int(action["commitInfo"]["timestamp"])
                    break
        if ts is None:
            ts = int(os.path.getmtime(fpath) * 1000)
        out.append((v, ts))
    return out


def version_at_timestamp(path: str, ts) -> int:
    """Latest version committed at or before ``ts`` (ms epoch int, or
    an ISO 'YYYY-MM-DD[ HH:MM:SS]' string) — Delta's timestampAsOf
    resolution rule."""
    if isinstance(ts, str):
        import datetime

        txt = ts.strip().replace("T", " ")
        fmt = "%Y-%m-%d %H:%M:%S" if " " in txt else "%Y-%m-%d"
        dt = datetime.datetime.strptime(txt, fmt)
        ts = int(dt.timestamp() * 1000)
    commits = _commit_timestamps(path)
    eligible = [v for v, t in commits if t <= int(ts)]
    if not eligible:
        raise ValueError(
            f"timestampAsOf {ts} precedes the table's first commit"
        )
    return max(eligible)


def describe_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per commit (version, timestamp,
    operation) from the log's commitInfo actions — the audit surface
    every Delta client exposes."""
    rows = []
    for v, fpath in _commit_files(_log_dir(path)):
        op, ts = None, None
        with open(fpath) as f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "commitInfo" in action:
                    op = action["commitInfo"].get("operation")
                    ts = action["commitInfo"].get("timestamp")
        rows.append((v, ts, op))
    return spark.createDataFrame(
        rows, "version long, timestamp_ms long, operation string"
    )


def table_changes(spark: SparkSession, path: str, from_version: int,
                  to_version: int | None = None) -> DataFrame:
    """Row-level change feed reconstructed from the transaction log
    (the consumer side of Delta CDF, without requiring _change_data
    files): for each commit in [from_version, to_version] (inclusive
    start, CDF's startingVersion convention), emit ALL table columns —
    partition columns re-attached — plus ``_change_type``
    ('insert'/'delete') and ``_commit_version``.

    - add(dataChange=true) of a new file → its rows as inserts.
    - remove(dataChange=true) with no replacing DV → its still-live
      rows (prior DV applied) as deletes.
    - a DV update (remove(path, oldDV) + add(path, newDV)) → rows in
      newDV \\ oldDV as deletes — positions resolved from the
      descriptors (bounded by DV cardinality) and fetched via the
      parquet row index.

    UPDATE/MERGE commits therefore surface as delete+insert pairs —
    the standard CDF shape when preimage tracking is off. Compaction
    commits (dataChange=false) emit nothing, as in Delta CDF.

    DV position sets resolve through _dv_positions_df: small
    descriptors decode on the driver (broadcast join), large ones
    explode executor-side — the driver never holds per-row position
    lists for big DVs."""
    from drill_spark.readers.delta_dv import descriptor_unique_id, read_descriptor

    log_dir = _log_dir(path)
    out: DataFrame | None = None

    def abs_path(p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(path, p)

    latest = load_snapshot(spark, path)
    if from_version > 0:
        prior = load_snapshot(spark, path, from_version - 1)
        prior_dv = {p: e.get("dv") for p, e in prior.files.items()}
        prior_pv = {p: e.get("pv") or {} for p, e in prior.files.items()}
    else:
        prior_dv, prior_pv = {}, {}
    part_cols = latest.partition_columns
    by_type = {f.name: _clean_type(f.dataType) for f in latest.schema.fields}
    data_schema = T.StructType(
        [T.StructField(f.name, _clean_type(f.dataType), f.nullable)
         for f in latest.schema.fields if f.name not in part_cols]
    )
    out_cols = [f.name for f in latest.schema.fields]

    def scan_rows(rel: str, positions: "DataFrame | None",
                  positions_small: bool, skip_dv: dict | None, pv: dict):
        """Rows of one file: all (minus skip_dv positions), or exactly
        the ``positions`` (__ri) set; partition values attached as
        typed literals."""
        df = (
            spark.read.schema(data_schema).parquet(abs_path(rel))
            .select("*", F.col("_metadata.row_index").alias("__ri"))
        )
        if positions is not None:
            df = df.join(F.broadcast(positions) if positions_small else positions,
                         "__ri")
        elif skip_dv:
            dead, small = _dv_positions_df(spark, path, skip_dv)
            df = df.join(F.broadcast(dead) if small else dead, "__ri", "left_anti")
        for c in part_cols:
            df = df.withColumn(c, F.lit(pv.get(c)).cast(by_type[c]))
        return df.select(*out_cols)

    pieces: list[tuple[DataFrame, str, int]] = []
    for v, fpath in _commit_files(log_dir):
        if v < from_version:
            continue
        if to_version is not None and v > to_version:
            break
        adds: dict[tuple, dict] = {}
        removes: dict[tuple, dict] = {}
        with open(fpath) as f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    a = action["add"]
                    adds[(a["path"], descriptor_unique_id(a.get("deletionVector")))] = a
                elif "remove" in action:
                    r = action["remove"]
                    removes[(r["path"], descriptor_unique_id(r.get("deletionVector")))] = r
        removed_paths = {p for p, _uid in removes}
        for (rel, _uid), a in adds.items():
            if not a.get("dataChange", True):
                continue
            new_dv = a.get("deletionVector")
            pv = a.get("partitionValues") or prior_pv.get(rel) or {}
            if rel in removed_paths:
                # DV update: newly-masked positions (newDV \ oldDV) are
                # deletes
                old_dv = prior_dv.get(rel)
                cards = [d.get("cardinality") for d in (old_dv, new_dv) if d]
                small_pair = (None not in cards
                              and sum(cards) <= _DV_DRIVER_DECODE_MAX)
                if small_pair:
                    old = set(read_descriptor(path, old_dv)) if old_dv else set()
                    new = set(read_descriptor(path, new_dv)) if new_dv else set()
                    fresh = sorted(new - old)
                    if fresh:
                        pos = spark.createDataFrame(
                            [(int(p),) for p in fresh], "__ri long")
                        pieces.append(
                            (scan_rows(rel, pos, True, None, pv), "delete", v))
                elif new_dv:
                    new_pos, _ = _dv_positions_df(spark, path, new_dv)
                    if old_dv:
                        old_pos, o_small = _dv_positions_df(spark, path, old_dv)
                        new_pos = new_pos.join(
                            F.broadcast(old_pos) if o_small else old_pos,
                            "__ri", "left_anti")
                    pieces.append(
                        (scan_rows(rel, new_pos, False, None, pv), "delete", v))
            else:
                pieces.append((scan_rows(rel, None, False, new_dv, pv), "insert", v))
            prior_dv[rel] = new_dv
            prior_pv[rel] = pv
        for (rel, _uid), r in removes.items():
            if not r.get("dataChange", True):
                continue
            if any(p == rel for p, _u in adds):
                continue  # handled as a DV update above
            pv = r.get("partitionValues") or prior_pv.get(rel) or {}
            pieces.append(
                (scan_rows(rel, None, False, prior_dv.get(rel), pv), "delete", v))
            prior_dv.pop(rel, None)
            prior_pv.pop(rel, None)

    for df, kind, v in pieces:
        piece = df.withColumn("_change_type", F.lit(kind)) \
                  .withColumn("_commit_version", F.lit(v).cast("long"))
        out = piece if out is None else out.unionByName(piece)
    if out is None:
        empty = T.StructType(
            [T.StructField(c, by_type[c]) for c in out_cols]
            + [T.StructField("_change_type", T.StringType()),
               T.StructField("_commit_version", T.LongType())]
        )
        return spark.createDataFrame([], empty)
    return out


CHECKPOINT_INTERVAL = 10

# How long remove tombstones are carried in checkpoints before expiring
# (mirrors delta.deletedFileRetentionDuration's 1-week default — and
# vacuum()'s default retention_hours). A vacuum with a LONGER retention
# than this may fall back to file mtimes for removes that aged out of
# the checkpoint after JSON log cleanup.
TOMBSTONE_RETENTION_HOURS = 168


def write_checkpoint(spark: SparkSession, path: str) -> str:
    """Write a classic checkpoint for the table's latest version
    (PROTOCOL.md "Checkpoints"): one ``%020d.checkpoint.parquet`` in
    ``_delta_log`` holding the reconciled protocol + metaData + add
    actions (DV descriptors included) — plus the remove TOMBSTONES
    younger than TOMBSTONE_RETENTION_HOURS, so vacuum() keeps seeing
    accurate removal times (not file mtimes) after the JSON log is
    cleaned — and ``_last_checkpoint``. Readers then replay only
    commits after the checkpoint — on a long-lived table this is what
    keeps snapshot construction O(live files), not O(total history).
    Returns the checkpoint file path."""
    import glob as _glob
    import shutil
    import time as _time

    snap = load_snapshot(spark, path)
    log_dir = _log_dir(path)
    dv_t = T.StructType([
        T.StructField("storageType", T.StringType()),
        T.StructField("pathOrInlineDv", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("sizeInBytes", T.IntegerType()),
        T.StructField("cardinality", T.LongType()),
    ])
    schema = T.StructType([
        T.StructField("protocol", T.StructType([
            T.StructField("minReaderVersion", T.IntegerType()),
            T.StructField("minWriterVersion", T.IntegerType()),
            T.StructField("readerFeatures", T.ArrayType(T.StringType())),
            T.StructField("writerFeatures", T.ArrayType(T.StringType())),
        ])),
        T.StructField("metaData", T.StructType([
            T.StructField("id", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("description", T.StringType()),
            T.StructField("format", T.StructType([
                T.StructField("provider", T.StringType()),
                T.StructField("options", T.MapType(T.StringType(), T.StringType())),
            ])),
            T.StructField("schemaString", T.StringType()),
            T.StructField("partitionColumns", T.ArrayType(T.StringType())),
            T.StructField("configuration", T.MapType(T.StringType(), T.StringType())),
            T.StructField("createdTime", T.LongType()),
        ])),
        T.StructField("add", T.StructType([
            T.StructField("path", T.StringType()),
            T.StructField("partitionValues", T.MapType(T.StringType(), T.StringType())),
            T.StructField("size", T.LongType()),
            T.StructField("modificationTime", T.LongType()),
            T.StructField("dataChange", T.BooleanType()),
            T.StructField("deletionVector", dv_t),
            # file-skipping stats must survive JSON log cleanup — a
            # checkpointed table would otherwise silently lose pruning
            T.StructField("stats", T.StringType()),
        ])),
        # unexpired remove tombstones (deletionTimestamp + superseded DV)
        # must survive checkpointing for vacuum's retention window
        T.StructField("remove", T.StructType([
            T.StructField("path", T.StringType()),
            T.StructField("deletionTimestamp", T.LongType()),
            T.StructField("dataChange", T.BooleanType()),
            T.StructField("deletionVector", dv_t),
        ])),
        # latest txn per appId must survive checkpointing (PROTOCOL.md
        # "Checkpoints" requires transaction identifiers be carried)
        T.StructField("txn", T.StructType([
            T.StructField("appId", T.StringType()),
            T.StructField("version", T.LongType()),
        ])),
    ])
    meta, proto = snap.meta, snap.protocol
    rows: list[dict] = [
        {"protocol": {
            "minReaderVersion": proto.get("minReaderVersion"),
            "minWriterVersion": proto.get("minWriterVersion"),
            "readerFeatures": proto.get("readerFeatures"),
            "writerFeatures": proto.get("writerFeatures"),
        }, "metaData": None, "add": None, "txn": None},
        {"protocol": None, "txn": None, "metaData": {
            "id": meta.get("id"),
            "name": meta.get("name"),
            "description": meta.get("description"),
            "format": {
                "provider": (meta.get("format") or {}).get("provider", "parquet"),
                "options": (meta.get("format") or {}).get("options") or {},
            },
            "schemaString": meta["schemaString"],
            "partitionColumns": meta.get("partitionColumns") or [],
            "configuration": meta.get("configuration") or {},
            "createdTime": meta.get("createdTime"),
        }, "add": None},
    ]
    for rel, entry in sorted(snap.files.items()):
        f_abs = rel if os.path.isabs(rel) else os.path.join(path, rel)
        try:
            size = os.path.getsize(f_abs)
        except OSError:
            size = 0
        dv = entry.get("dv")
        rows.append({"protocol": None, "metaData": None, "txn": None, "add": {
            "path": rel,
            "partitionValues": entry.get("pv") or {},
            "size": size,
            "modificationTime": 0,
            "dataChange": False,
            "stats": entry.get("stats"),
            "deletionVector": {
                "storageType": dv.get("storageType"),
                "pathOrInlineDv": dv.get("pathOrInlineDv"),
                "offset": dv.get("offset"),
                "sizeInBytes": dv.get("sizeInBytes"),
                "cardinality": dv.get("cardinality"),
            } if dv else None,
        }})
    cutoff_ms = (_time.time() - TOMBSTONE_RETENTION_HOURS * 3600) * 1000
    for (rel, _uid), r in sorted(snap.tombstones.items(),
                                 key=lambda kv: (kv[0][0], kv[0][1] or "")):
        ts = int(r.get("deletionTimestamp") or 0)
        if ts <= cutoff_ms:
            continue  # aged out — vacuum's window has passed
        dv = r.get("deletionVector") or None
        rows.append({"protocol": None, "metaData": None, "add": None,
                     "txn": None, "remove": {
                         "path": rel,
                         "deletionTimestamp": ts,
                         "dataChange": bool(r.get("dataChange", True)),
                         "deletionVector": {
                             "storageType": dv.get("storageType"),
                             "pathOrInlineDv": dv.get("pathOrInlineDv"),
                             "offset": dv.get("offset"),
                             "sizeInBytes": dv.get("sizeInBytes"),
                             "cardinality": dv.get("cardinality"),
                         } if dv else None,
                     }})
    for app_id, ver in sorted(snap.txns.items()):
        rows.append({"protocol": None, "metaData": None, "add": None,
                     "txn": {"appId": app_id, "version": int(ver)}})
    df = spark.createDataFrame(rows, schema)
    tmp = os.path.join(log_dir, ".ckpt_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = _glob.glob(os.path.join(_glob.escape(tmp), "part-*.parquet"))[0]
    target = os.path.join(log_dir, f"{snap.version:020d}.checkpoint.parquet")
    os.replace(part, target)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as f:
        json.dump({"version": snap.version, "size": len(rows)}, f)
    return target


def _maybe_checkpoint(spark: SparkSession, path: str, version: int) -> None:
    """Auto-checkpoint on the reference cadence (every
    CHECKPOINT_INTERVAL commits, like delta's checkpointInterval=10)."""
    if version > 0 and version % CHECKPOINT_INTERVAL == 0:
        write_checkpoint(spark, path)


def _annotated_table_scan(spark: SparkSession, path: str,
                          snap: "DeltaSnapshot") -> DataFrame:
    """Raw-file scan of a snapshot annotated with row identity (__fp
    normalized file path, __ri parquet row index) and typed partition
    columns re-attached via a broadcast path map. Column-mapped tables
    ('name' mode) read under physical names and come back LOGICAL.
    NOTE: includes rows already masked by existing DVs — callers that
    need LIVE rows only must apply the DVs (read_delta does)."""
    mapped = snap.column_mapping_mode in ("name", "id")
    data_fields = [f for f in snap.schema.fields
                   if f.name not in snap.partition_columns]
    if mapped:
        data_schema = T.StructType(
            [T.StructField(_physical_name(f), _physical_type(f.dataType), f.nullable)
             for f in data_fields])
    else:
        data_schema = T.StructType(
            [T.StructField(f.name, _clean_type(f.dataType), f.nullable)
             for f in data_fields])
    by_type = {f.name: _clean_type(f.dataType) for f in snap.schema.fields}

    def abs_path(p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(path, p)

    df = (
        spark.read.schema(data_schema)
        .parquet(*[abs_path(p) for p in snap.files])
        .select(
            "*",
            _norm_uri(F.col("_metadata.file_path")).alias("__fp"),
            F.col("_metadata.row_index").alias("__ri"),
        )
    )
    if mapped:  # physical -> logical immediately after the scan
        df = df.select(
            *[F.col(_physical_name(f)).cast(_clean_type(f.dataType)).alias(f.name)
              for f in data_fields],
            "__fp", "__ri",
        )
    if snap.partition_columns:
        # under column mapping, add.partitionValues is keyed by the
        # partition column's PHYSICAL name
        pv_key = {
            f.name: (_physical_name(f) if mapped else f.name)
            for f in snap.schema.fields if f.name in snap.partition_columns
        }
        pv_rows = [
            {"__fp": abs_path(p),
             **{f"__pv_{c}": (e.get("pv") or {}).get(pv_key[c], (e.get("pv") or {}).get(c))
                for c in snap.partition_columns}}
            for p, e in snap.files.items()
        ]
        pv_schema = T.StructType(
            [T.StructField("__fp", T.StringType())]
            + [T.StructField(f"__pv_{c}", T.StringType()) for c in snap.partition_columns]
        )
        df = df.join(F.broadcast(spark.createDataFrame(pv_rows, pv_schema)), "__fp")
        for c in snap.partition_columns:
            df = df.withColumn(c, F.col(f"__pv_{c}").cast(by_type[c])).drop(f"__pv_{c}")
    return df


def _build_condition_dvs(spark: SparkSession, path: str, snap: "DeltaSnapshot",
                         condition: str) -> list:
    """DVs for every file with rows matching ``condition`` (see
    _build_pair_dvs)."""
    pairs = (
        _annotated_table_scan(spark, path, snap)
        .where(condition)
        .select("__fp", "__ri")
    )
    return _build_pair_dvs(spark, path, snap, pairs)


def _build_pair_dvs(spark: SparkSession, path: str, snap: "DeltaSnapshot",
                    pairs: DataFrame) -> list:
    """Executor-side DV construction from a DataFrame of matched
    (__fp, __ri) row identities: one task per touched file serializes
    the (unioned) RoaringBitmapArray and writes the DV file; only
    per-file descriptors return to the driver. Returns collected rows
    (fp, desc_json, n_new)."""
    def abs_path(p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(path, p)

    # closure state shipped to the group tasks: metadata only (the DV
    # descriptors of files that already carry one, keyed by abs path)
    table_path = path
    old_dv = {abs_path(p): e["dv"] for p, e in snap.files.items() if e.get("dv")}

    def _build_dv(pdf):
        import pandas as pd

        from drill_spark.readers.delta_dv import read_descriptor, write_dv_file

        fp = pdf["__fp"].iloc[0]
        idx = set(int(v) for v in pdf["__ri"])
        n_new = len(idx)
        old = old_dv.get(fp)
        if old is not None:
            prev = set(read_descriptor(table_path, old))
            n_new = len(idx - prev)
            idx |= prev
        desc = write_dv_file(table_path, sorted(idx))
        return pd.DataFrame([{"fp": fp, "desc_json": json.dumps(desc), "n_new": n_new}])

    return (
        pairs.select("__fp", "__ri")
        .groupBy("__fp")
        .applyInPandas(_build_dv, "fp string, desc_json string, n_new long")
        .collect()
    )


def _live_annotated_scan(spark: SparkSession, path: str,
                         snap: "DeltaSnapshot") -> DataFrame:
    """Annotated scan restricted to LIVE rows: existing DV positions
    are anti-joined out — driver-decoded + broadcast when small,
    executor-exploded past _DV_DRIVER_DECODE_MAX (same budget
    read_delta spends)."""
    df = _annotated_table_scan(spark, path, snap)
    entries = []
    for rel, entry in snap.files.items():
        dv = entry.get("dv")
        if dv:
            fp = rel if os.path.isabs(rel) else os.path.join(path, rel)
            entries.append((fp, dv))
    if not entries:
        return df
    dead_df, small = _dv_pairs_df(spark, path, entries)
    if small:
        dead_df = F.broadcast(dead_df)
    return df.join(dead_df, ["__fp", "__ri"], "left_anti")


def delete_where(spark: SparkSession, path: str, condition: str) -> int:
    """Row-level DELETE via deletion vectors — no data file rewritten.

    The merge-on-read half of Delta's DELETE (PROTOCOL.md "Deletion
    Vectors"): for each data file with matching rows, serialize the
    matched parquet row indexes as a RoaringBitmapArray DV file and
    commit remove(old add) + add(same path, deletionVector=desc),
    upgrading the protocol to readerFeatures=[deletionVectors]. An
    existing DV on a file is unioned in (the new DV supersedes it).

    The per-file bitmaps are built ON THE EXECUTORS: the matched row
    indexes shuffle once grouped by file, each group task serializes the
    RoaringBitmapArray (unioning the file's existing DV, read
    executor-side) and writes the DV file straight into the table
    directory — shared storage on a real cluster, the same premise the
    parquet writer rests on. Only the per-file descriptors return to
    the driver, bounded by touched-FILE count (what the commit must
    hold anyway), never by deleted-ROW count, so an arbitrarily broad
    DELETE cannot OOM the driver. A retried/speculative task can leave
    an orphan (never-referenced) DV file behind, exactly like orphan
    parquet parts from failed write tasks — VACUUM territory, not a
    correctness issue. Returns the number of newly deleted rows.
    Single writer per table, like write_delta. Conditions may reference
    data AND partition columns (partition values re-attach via a
    broadcast path map before the filter)."""
    import time

    snap = load_snapshot(spark, path)
    # column-mapped tables work here: the scan aliases physical ->
    # logical and a DELETE writes no data files, only DVs + log actions

    def abs_path(p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(path, p)

    rel_of = {abs_path(p): p for p in snap.files}
    built = _build_condition_dvs(spark, path, snap, condition)
    if not built:
        return 0

    now_ms = int(time.time() * 1000)
    log_dir = _log_dir(path)
    version = snap.version + 1  # snapshot replay reconciles _last_checkpoint
    actions = [{"protocol": _upgrade_protocol(snap.protocol, "deletionVectors")}]
    n_deleted = 0
    for row in built:
        rel = rel_of[row["fp"]]
        entry = snap.files[rel]
        n_deleted += int(row["n_new"])
        base = {"path": rel, "partitionValues": entry.get("pv") or {},
                "size": os.path.getsize(row["fp"]), "dataChange": True}
        actions.append({"remove": {**base, "deletionTimestamp": now_ms,
                                   "deletionVector": entry.get("dv")}})
        actions.append({"add": {**base, "modificationTime": now_ms,
                                "deletionVector": json.loads(row["desc_json"])}})
    actions.append({"commitInfo": {"timestamp": now_ms, "operation": "DELETE"}})
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    _maybe_checkpoint(spark, path, version)
    return n_deleted


def update_where(spark: SparkSession, path: str, condition: str,
                 assignments: dict[str, str]) -> int:
    """Row-level UPDATE in ONE atomic commit: matched rows are masked
    via deletion vectors (exactly delete_where's executor-side build)
    and their updated copies are appended as new data files — the
    copy-on-write half is limited to the touched rows, not the touched
    files, which is Delta's DV-based UPDATE shape.

    ``assignments`` maps column name -> SQL expression (evaluated
    against the pre-update row; expressions may reference any column).
    The updated-copy source is the LIVE table (existing DVs applied),
    so rows deleted earlier are never resurrected. New files are
    written before the commit; a crash in between leaves orphan
    parquet/DV files for VACUUM, never a half-applied table. Returns
    the number of updated rows. Single writer per table."""
    import time

    snap = load_snapshot(spark, path)
    unknown = [c for c in assignments if c not in {f.name for f in snap.schema.fields}]
    if unknown:
        raise ValueError(f"UPDATE of unknown column(s): {unknown}")

    def abs_path(p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(path, p)

    rel_of = {abs_path(p): p for p in snap.files}
    by_type = {f.name: _clean_type(f.dataType) for f in snap.schema.fields}

    # 1. executor-side DV build over the raw scan (counts live matches)
    built = _build_condition_dvs(spark, path, snap, condition)
    if not built:
        return 0

    # 2. updated copies from the LIVE rows (DVs applied by read_delta)
    updated = read_delta(spark, path).where(condition)
    for col, expr in assignments.items():
        updated = updated.withColumn(col, F.expr(expr).cast(by_type[col]))
    updated = updated.select(*[f.name for f in snap.schema.fields])
    updated, part_cols_w = _writer_shape(updated, snap)
    before = _existing_parquet(path)
    writer = updated.write.mode("append").format("parquet")
    if part_cols_w:
        writer = writer.partitionBy(*part_cols_w)
    writer.save(path)
    new_files = [p for p in _existing_parquet(path) if p not in before]

    # 3. ONE commit: DV remove/add pairs + the new data files
    now_ms = int(time.time() * 1000)
    log_dir = _log_dir(path)
    version = snap.version + 1  # snapshot replay reconciles _last_checkpoint
    actions = [{"protocol": _upgrade_protocol(snap.protocol, "deletionVectors")}]
    n_updated = 0
    for row in built:
        rel = rel_of[row["fp"]]
        entry = snap.files[rel]
        n_updated += int(row["n_new"])
        base = {"path": rel, "partitionValues": entry.get("pv") or {},
                "size": os.path.getsize(row["fp"]), "dataChange": True}
        actions.append({"remove": {**base, "deletionTimestamp": now_ms,
                                   "deletionVector": entry.get("dv")}})
        actions.append({"add": {**base, "modificationTime": now_ms,
                                "deletionVector": json.loads(row["desc_json"])}})
    for rel in sorted(new_files):
        pv = _pv_from_rel(rel, part_cols_w)
        actions.append({"add": {
            "path": rel, "partitionValues": pv,
            "size": os.path.getsize(abs_path(rel)),
            "modificationTime": now_ms, "dataChange": True,
        }})
    actions.append({"commitInfo": {"timestamp": now_ms, "operation": "UPDATE"}})
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    _maybe_checkpoint(spark, path, version)
    return n_updated


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: str,
    when_matched_update: dict[str, str] | None = None,
    when_matched_delete: bool = False,
    when_not_matched_insert: dict[str, str] | None = None,
) -> dict:
    """MERGE INTO — the CDC upsert primitive, in ONE atomic commit.

    ``source`` is joined to the live target on ``on`` (reference the
    sides as ``t.<col>`` and ``src.<col>``). Matched target rows are
    masked via deletion vectors; WHEN MATCHED UPDATE appends rewritten
    copies (``assignments`` map target column -> SQL expression over
    ``t.*``/``src.*``); WHEN MATCHED DELETE just masks; WHEN NOT
    MATCHED INSERT appends source rows shaped by its assignment map.
    A target row matched by MULTIPLE source rows is ambiguous and
    raises, matching the Delta/SQL-standard MERGE cardinality rule.

    Scale shape: one equi-or-theta join target×source (Catalyst picks
    broadcast for small CDC batches), executor-side DV build, and
    Spark's distributed writer for the new files — the driver holds
    per-file descriptors only. Returns {"updated": n, "deleted": n,
    "inserted": n}.
    """
    import time

    if when_matched_update and when_matched_delete:
        raise ValueError("choose ONE of when_matched_update / when_matched_delete")

    snap = load_snapshot(spark, path)
    by_type = {f.name: _clean_type(f.dataType) for f in snap.schema.fields}
    target_cols = [f.name for f in snap.schema.fields]

    def abs_path(p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(path, p)

    rel_of = {abs_path(p): p for p in snap.files}
    t = _live_annotated_scan(spark, path, snap).alias("t")
    s = source.alias("src")
    # persist: the joined set feeds the cardinality check, the DV build
    # and the update-copy write — one join execution, not three
    joined = t.join(s, F.expr(on), "inner").persist()

    # SQL MERGE cardinality rule: a target row hit twice is ambiguous
    dup = (
        joined.groupBy("t.__fp", "t.__ri").count().where(F.col("count") > 1).limit(1)
    )
    if dup.take(1):
        joined.unpersist()
        raise ValueError(
            "MERGE: a target row matches multiple source rows (ambiguous update)"
        )

    built = []
    if when_matched_update or when_matched_delete:
        built = _build_pair_dvs(
            spark, path, snap, joined.select(F.col("t.__fp"), F.col("t.__ri"))
        )

    new_dfs = []
    n_updated = n_inserted = 0
    if when_matched_update and built:
        upd = joined.select(*[
            F.expr(when_matched_update.get(c, f"t.`{c}`")).cast(by_type[c]).alias(c)
            for c in target_cols
        ])
        new_dfs.append(upd)
    if when_not_matched_insert is not None:
        missing = [c for c in target_cols if c not in when_not_matched_insert]
        ins = s.join(t, F.expr(on), "left_anti").select(*[
            (F.expr(when_not_matched_insert[c]).cast(by_type[c])
             if c in when_not_matched_insert
             else F.lit(None).cast(by_type[c])).alias(c)
            for c in target_cols
        ])
        del missing
        new_dfs.append(ins)

    before = _existing_parquet(path)
    part_cols_w = snap.partition_columns
    for df_new in new_dfs:
        df_new, part_cols_w = _writer_shape(df_new, snap)
        writer = df_new.write.mode("append").format("parquet")
        if part_cols_w:
            writer = writer.partitionBy(*part_cols_w)
        writer.save(path)
    import pyarrow.parquet as pq

    new_files, appended = [], 0
    for rel in sorted(_existing_parquet(path) - before):
        nrec = pq.read_metadata(abs_path(rel)).num_rows
        if nrec == 0:
            os.remove(abs_path(rel))  # empty part from an empty branch
            continue
        appended += nrec
        new_files.append(rel)

    if not built and not new_files:
        joined.unpersist()
        return {"updated": 0, "deleted": 0, "inserted": 0}

    now_ms = int(time.time() * 1000)
    log_dir = _log_dir(path)
    version = snap.version + 1  # snapshot replay reconciles _last_checkpoint
    actions = [{"protocol": _upgrade_protocol(snap.protocol, "deletionVectors")}]
    n_masked = 0
    for row in built:
        rel = rel_of[row["fp"]]
        entry = snap.files[rel]
        n_masked += int(row["n_new"])
        base = {"path": rel, "partitionValues": entry.get("pv") or {},
                "size": os.path.getsize(row["fp"]), "dataChange": True}
        actions.append({"remove": {**base, "deletionTimestamp": now_ms,
                                   "deletionVector": entry.get("dv")}})
        actions.append({"add": {**base, "modificationTime": now_ms,
                                "deletionVector": json.loads(row["desc_json"])}})
    for rel in sorted(new_files):
        pv = _pv_from_rel(rel, part_cols_w)
        actions.append({"add": {
            "path": rel, "partitionValues": pv,
            "size": os.path.getsize(abs_path(rel)),
            "modificationTime": now_ms, "dataChange": True,
        }})
    actions.append({"commitInfo": {"timestamp": now_ms, "operation": "MERGE"}})
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    _maybe_checkpoint(spark, path, version)

    if when_matched_update:
        n_updated = n_masked
        n_deleted = 0
    else:
        n_deleted = n_masked
    if when_not_matched_insert is not None:
        n_inserted = appended - n_updated  # footer rows minus updated copies
    joined.unpersist()
    return {"updated": n_updated, "deleted": n_deleted, "inserted": n_inserted}


def optimize(spark: SparkSession, path: str,
             small_file_bytes: int = 64 * 1024 * 1024,
             zorder_by: list[str] | None = None,
             target_file_bytes: int = 128 * 1024 * 1024) -> dict:
    """OPTIMIZE (bin-packing compaction): rewrite the table's small
    files — and every file carrying a deletion vector, purging the
    deleted rows — into full-size files, committed as remove(old) +
    add(new, dataChange=false).

    The read+rewrite is Spark's distributed parquet path end to end;
    the driver holds only the file list (planner-sized). Partitioned
    tables compact within partitions (the rewrite preserves the hive
    layout, so partition pruning is untouched). Files already at target
    size with no DV are left alone — compaction cost is proportional to
    the small-file backlog, not the table. Returns
    {"rewritten": n_old, "added": n_new, "skipped": n_untouched}.

    ``zorder_by``: OPTIMIZE ... ZORDER BY — a GLOBAL re-layout
    (every active file is rewritten, like Delta's) that range-
    partitions and sorts rows by the interleaved-bit Z-value of the
    given columns (delta_stats.zorder_expression), so each output file
    covers a small hyper-rectangle of the key space and the per-file
    min/max stats written with the new add actions become selective on
    every Z column at once — multi-column file skipping, the thing a
    single sort column cannot give. One range shuffle over the table;
    output file count sized by total bytes / ``target_file_bytes``.
    """
    import time

    snap = load_snapshot(spark, path)

    def abs_path(p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(path, p)

    zorder_by = list(zorder_by or [])
    for c in zorder_by:
        if c in snap.partition_columns:
            raise ValueError(
                f"ZORDER BY column {c} is a partition column — it is "
                "already constant per file; zorder the non-partition keys")

    victims = {}
    total_bytes = 0
    for rel, entry in snap.files.items():
        f_abs = abs_path(rel)
        try:
            size = os.path.getsize(f_abs)
        except OSError:
            size = 0
        if zorder_by or entry.get("dv") or size < small_file_bytes:
            victims[rel] = entry
            total_bytes += size
    if not zorder_by and len(victims) <= 1 \
            and not any(e.get("dv") for e in victims.values()):
        return {"rewritten": 0, "added": 0, "skipped": len(snap.files)}

    # read ONLY the victims, with their DVs applied (read_delta semantics
    # on a restricted file set): reuse the reader by snapshot surgery
    sub = DeltaSnapshot(snap.schema, snap.partition_columns, victims,
                        snap.version, snap.column_mapping_mode, snap.protocol,
                        snap.meta, snap.txns)
    df = _read_snapshot_files(spark, path, sub)
    if zorder_by:
        # cluster BEFORE physical-name shaping (logical column names);
        # the later projections are narrow, so the range-partitioned
        # sort order survives into the written files
        n_out = max(1, -(-total_bytes // target_file_bytes))
        df = (
            df.withColumn("__z", zorder_expression(df, zorder_by))
            .repartitionByRange(n_out, *snap.partition_columns, "__z")
            .sortWithinPartitions(*snap.partition_columns, "__z")
            .drop("__z")
        )
    df, part_cols_w = _writer_shape(df, snap)

    before = _existing_parquet(path)
    writer = df.write.mode("append").format("parquet")
    if part_cols_w:
        writer = writer.partitionBy(*part_cols_w)
    writer.save(path)
    new_files = [p for p in _existing_parquet(path) if p not in before]

    now_ms = int(time.time() * 1000)
    log_dir = _log_dir(path)
    version = snap.version + 1  # snapshot replay reconciles _last_checkpoint
    actions = []
    for rel, entry in sorted(victims.items()):
        actions.append({"remove": {
            "path": rel, "partitionValues": entry.get("pv") or {},
            "deletionTimestamp": now_ms, "dataChange": False,
            "deletionVector": entry.get("dv"),
        }})
    for rel in sorted(new_files):
        pv = _pv_from_rel(rel, part_cols_w)
        actions.append({"add": {
            "path": rel, "partitionValues": pv,
            "size": os.path.getsize(abs_path(rel)),
            "modificationTime": now_ms, "dataChange": False,
            "stats": file_stats_json(abs_path(rel)),
        }})
    commit_info: dict = {"timestamp": now_ms, "operation": "OPTIMIZE"}
    if zorder_by:
        commit_info["operationParameters"] = {
            "zOrderBy": json.dumps(zorder_by)}
    actions.append({"commitInfo": commit_info})
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    _maybe_checkpoint(spark, path, version)
    return {"rewritten": len(victims), "added": len(new_files),
            "skipped": len(snap.files) - len(victims)}


def skipping_report(spark: SparkSession, path: str, predicate: str) -> dict:
    """{"total": n_files, "candidates": n_after_pruning} — how many
    data files the stats pruner keeps for ``predicate``; the
    observable data-skipping contract (tests and the Web UI use it)."""
    snap = load_snapshot(spark, path)
    name_map = (
        {f.name: _physical_name(f) for f in snap.schema.fields}
        if snap.column_mapping_mode in ("name", "id") else None
    )
    kept, _ = prune_snapshot_files(snap, predicate, name_map)
    return {"total": len(snap.files), "candidates": len(kept)}


def _writer_shape(df: DataFrame, snap: "DeltaSnapshot"):
    """Shape a LOGICAL-named DataFrame for writing into the table:
    under column mapping data files carry PHYSICAL column names, and
    the hive partition dirs (hence add.partitionValues keys) use the
    partition columns' physical names too. In 'id' mode each top-level
    column additionally carries ``parquet.field.id`` metadata (from
    delta.columnMapping.id), which Spark's parquet writer emits as the
    field_id an id-mode reader matches on
    (spark.sql.parquet.fieldId.write.enabled, on by default).
    Returns (df_to_write, partition_cols_for_writer)."""
    if snap.column_mapping_mode not in ("name", "id"):
        return df, snap.partition_columns
    phys = {f.name: _physical_name(f) for f in snap.schema.fields}
    cols = []
    for f in snap.schema.fields:
        fid = (f.metadata or {}).get("delta.columnMapping.id")
        md = {"parquet.field.id": int(fid)} \
            if snap.column_mapping_mode == "id" and fid is not None else None
        cols.append(F.col(f.name).alias(phys[f.name], metadata=md)
                    if md else F.col(f.name).alias(phys[f.name]))
    out = df.select(*cols)
    return out, [phys[c] for c in snap.partition_columns]


def _read_snapshot_files(spark: SparkSession, path: str,
                         snap: "DeltaSnapshot") -> DataFrame:
    """Logical rows of the given snapshot's file set (partition values
    re-attached, DVs applied) — the shared kernel of read_delta and
    optimize. Delegates to read_delta's machinery via a pinned
    snapshot."""
    return read_delta(spark, path, _snapshot_override=snap)


def vacuum(spark: SparkSession, path: str, retention_hours: float = 168,
           dry_run: bool = False) -> list[str]:
    """VACUUM: delete data/DV files no longer referenced by the CURRENT
    snapshot and whose REMOVAL is older than the retention window
    (default 7 days, like delta's deletedFileRetentionDuration — the
    clock starts at the remove action's deletionTimestamp, so time
    travel within the window keeps working regardless of how old the
    file itself is; never-logged orphans from failed writes fall back
    to the file mtime). Driver-side listing — bounded by file count,
    the same budget the transaction log itself costs. Returns the
    deleted (or would-delete, with dry_run) relative paths."""
    import time

    from drill_spark.readers.delta_dv import descriptor_relative_path

    snap = load_snapshot(spark, path)
    live = set(snap.files)
    for entry in snap.files.values():
        dv = entry.get("dv")
        if dv:
            rel = descriptor_relative_path(dv)
            if rel:
                live.add(rel)
    # removal times from the snapshot's tombstones (which include the
    # checkpoint-carried removes surviving JSON log cleanup) plus a
    # rescan of whatever JSON commits remain: remove actions cover both
    # the data file and (via the carried descriptor) its superseded DV
    removed_at: dict[str, int] = {}

    def _note_remove(r: dict) -> None:
        ts = int(r.get("deletionTimestamp") or 0)
        removed_at[r["path"]] = max(removed_at.get(r["path"], 0), ts)
        dv_rel = descriptor_relative_path(r.get("deletionVector") or {})
        if dv_rel:
            removed_at[dv_rel] = max(removed_at.get(dv_rel, 0), ts)

    for _key, r in snap.tombstones.items():
        _note_remove(r)
    for _v, fpath in _commit_files(_log_dir(path)):
        with open(fpath) as f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "remove" in action:
                    _note_remove(action["remove"])
    cutoff_ms = (time.time() - retention_hours * 3600) * 1000
    doomed = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        for name in files:
            if not (name.endswith(".parquet") or name.startswith("deletion_vector_")):
                continue
            full = os.path.join(root, name)
            rel = os.path.relpath(full, path)
            if rel in live:
                continue
            when_ms = removed_at.get(rel, os.path.getmtime(full) * 1000)
            if when_ms > cutoff_ms:
                continue
            doomed.append(rel)
    if not dry_run:
        for rel in doomed:
            try:
                os.remove(os.path.join(path, rel))
            except OSError:
                pass
    return sorted(doomed)


def _existing_parquet(path: str) -> set[str]:
    found = set()
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        for name in files:
            if name.endswith(".parquet"):
                found.add(os.path.relpath(os.path.join(root, name), path))
    return found


def restore_table(spark: SparkSession, path: str,
                  version: int | None = None, timestamp=None) -> dict:
    """RESTORE TABLE ... TO VERSION AS OF / TIMESTAMP AS OF — Delta's
    time-travel WRITE: one commit whose add/remove actions turn the
    CURRENT file set back into the target snapshot's (files are never
    copied — the log is the state). Time travel to versions after the
    restore still works; VACUUM eventually reclaims files the restore
    orphaned once they age out. Returns
    {"restored_version": v, "added": n, "removed": n}."""
    import time

    if (version is None) == (timestamp is None):
        raise ValueError("give exactly one of version / timestamp")
    if timestamp is not None:
        version = version_at_timestamp(path, timestamp)
    target = load_snapshot(spark, path, int(version))
    current = load_snapshot(spark, path)
    if target.column_mapping_mode in ("name", "id"):
        raise NotImplementedError("restore of column-mapped tables is not supported")

    def key(entry):
        from drill_spark.readers.delta_dv import descriptor_unique_id

        return descriptor_unique_id(entry.get("dv"))

    adds = [(p, e) for p, e in target.files.items()
            if p not in current.files or key(current.files[p]) != key(e)]
    removes = [(p, e) for p, e in current.files.items()
               if p not in target.files or key(target.files[p]) != key(e)]
    now_ms = int(time.time() * 1000)
    actions = []
    if any(e.get("dv") for _p, e in adds):
        actions.append({"protocol": _upgrade_protocol(current.protocol,
                                                      "deletionVectors")})
    for rel, e in sorted(removes):
        actions.append({"remove": {
            "path": rel, "partitionValues": e.get("pv") or {},
            "deletionTimestamp": now_ms, "dataChange": True,
            "deletionVector": e.get("dv"),
        }})
    for rel, e in sorted(adds):
        f_abs = rel if os.path.isabs(rel) else os.path.join(path, rel)
        try:
            size = os.path.getsize(f_abs)
        except OSError as err:
            raise FileNotFoundError(
                f"cannot RESTORE to version {version}: data file {rel} was "
                "vacuumed away") from err
        actions.append({"add": {
            "path": rel, "partitionValues": e.get("pv") or {},
            "size": size, "modificationTime": now_ms, "dataChange": True,
            "deletionVector": e.get("dv"),
        }})
    actions.append({"commitInfo": {
        "timestamp": now_ms, "operation": "RESTORE",
        "operationParameters": {"version": str(version)},
    }})
    new_version = current.version + 1
    with open(os.path.join(_log_dir(path), f"{new_version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    _maybe_checkpoint(spark, path, new_version)
    return {"restored_version": int(version),
            "added": len(adds), "removed": len(removes)}
