"""Apache Iceberg table reader/writer — no external connector jar.

Drill reads Iceberg through a format plugin that resolves the current
snapshot from the table metadata and plans parquet sub-scans
(reference: contrib/format-iceberg/src/main/java/org/apache/drill/
exec/store/iceberg/format/IcebergFormatPlugin.java, snapshot handling
in IcebergGroupScan.java / FormatMatcher). The iceberg-spark-runtime
jar is not bundled here, so this module implements the public Iceberg
table spec (https://iceberg.apache.org/spec/) directly:

- **metadata resolution**: ``metadata/version-hint.text`` names the
  current ``v{N}.metadata.json`` (falling back to the
  highest-numbered ``*.metadata.json``); the JSON carries schemas,
  partition specs, and the snapshot list.
- **snapshot walk**: the current snapshot's ``manifest-list`` is an
  Avro file (one row per manifest); each manifest is itself an Avro
  file of ``manifest_entry`` records wrapping ``data_file`` structs.
  Both decode through :mod:`drill_spark.readers.avro` — the same
  dependency-free OCF decoder the avro format plugin uses.
- **schema**: Iceberg types map to Spark types field-by-field;
  Iceberg data files store ALL columns (identity-partitioned values
  included), so the scan is a plain distributed parquet read of the
  live file list with the metadata schema pinned.
- **row-level deletes (format-version 2)**: positional delete files
  (``content`` 1: parquet of ``file_path``/``pos``, spec field ids
  2147483546/2147483545) and equality delete files (``content`` 2:
  parquet of the ``equality_ids`` columns) are applied per the spec's
  sequence-number scoping — a position delete hits data files with
  ``data_seq <= delete_seq``, an equality delete hits strictly older
  files (``data_seq < delete_seq``). The application is a pair of
  Spark anti-joins: data rows carry ``_metadata.file_path`` +
  ``_metadata.row_index`` (exactly Iceberg's ``pos``), position
  deletes anti-join on (file, pos), equality deletes anti-join
  null-safely (``<=>``) on the equality columns. Both are equi-joins
  with a residual sequence filter, so they hash-partition — no
  nested-loop, and delete files far smaller than data broadcast.
  Non-parquet data files raise ``NotImplementedError`` naming the
  feature — never silently-wrong rows. ``snapshot-id``/``snapshotId``
  in options time travels to a named snapshot.

Scale: manifest decoding is metadata work. The manifest list (one
row per manifest) is tiny and read on the driver; manifests can
number in the thousands on a 100 TB table, so they are decoded IN
EXECUTORS via the distributed avro reader and only the file paths —
a few hundred MB of strings at 1M files, the same order every
Iceberg engine's planner holds — are collected to build the scan.
The data read itself is one ``spark.read.parquet`` over the live
files, so pushdown/pruning/AQE apply unchanged.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from drill_spark.readers.avro import decode_file
from drill_spark.readers.iceberg_stats import (
    ICE_STATS_FIELDS,
    ML_PARTITIONS_FIELD,
    data_file_stats,
    manifest_pseudo_stats,
    partition_field_summaries,
    stats_to_delta_shape,
)
from drill_spark.session import local_frame


def _table_metadata(path: str) -> dict:
    mdir = os.path.join(path, "metadata")
    if not os.path.isdir(mdir):
        raise FileNotFoundError(f"not an Iceberg table (no metadata dir): {path}")
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            v = f.read().strip()
        cand = os.path.join(mdir, f"v{v}.metadata.json")
        if os.path.exists(cand):
            with open(cand) as f:
                return json.load(f)
    metas = sorted(f for f in os.listdir(mdir) if f.endswith(".metadata.json"))
    if not metas:
        raise FileNotFoundError(f"no *.metadata.json under {mdir}")
    with open(os.path.join(mdir, metas[-1])) as f:
        return json.load(f)


_PRIM = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "time": T.LongType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "uuid": T.StringType(),
    "binary": T.BinaryType(),
}


def _ice_type(t) -> T.DataType:
    if isinstance(t, str):
        if t in _PRIM:
            return _PRIM[t]
        if t.startswith("decimal"):
            p, s = t[t.index("(") + 1 : t.index(")")].split(",")
            return T.DecimalType(int(p), int(s))
        if t.startswith("fixed"):
            return T.BinaryType()
        raise NotImplementedError(f"iceberg type {t!r}")
    kind = t["type"]
    if kind == "struct":
        return T.StructType(
            [
                T.StructField(f["name"], _ice_type(f["type"]), not f.get("required", False))
                for f in t["fields"]
            ]
        )
    if kind == "list":
        return T.ArrayType(_ice_type(t["element"]), not t.get("element-required", False))
    if kind == "map":
        return T.MapType(
            _ice_type(t["key"]), _ice_type(t["value"]), not t.get("value-required", False)
        )
    raise NotImplementedError(f"iceberg type {kind!r}")


def _current_schema_dict(meta: dict) -> dict:
    schemas = meta.get("schemas")
    if schemas:
        sid = meta.get("current-schema-id", 0)
        return next((s for s in schemas if s.get("schema-id") == sid), schemas[-1])
    return meta["schema"]  # format-version 1 single-schema layout


def _current_schema(meta: dict) -> T.StructType:
    st = _ice_type(_current_schema_dict(meta))
    assert isinstance(st, T.StructType)
    return st


def _field_id_names(meta: dict) -> dict[int, str]:
    """Top-level field-id -> column name (equality_ids resolution)."""
    return {
        f["id"]: f["name"]
        for f in _current_schema_dict(meta).get("fields", [])
        if "id" in f
    }


def _rebase(p: str, table_path: str, meta_location: str | None) -> str:
    """Manifest/data paths are absolute write-time URIs; strip the
    scheme and, if the table moved, rebase onto the local table dir."""
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    if os.path.exists(p):
        return p
    base = (meta_location or "").rstrip("/")
    if base and p.startswith(base + "/"):
        return os.path.join(table_path, p[len(base) + 1 :])
    # fall back: locate the table-name segment
    marker = "/" + os.path.basename(table_path.rstrip("/")) + "/"
    if marker in p:
        return os.path.join(table_path, p.split(marker, 1)[1])
    return p


def read_iceberg(spark: SparkSession, path: str,
                 options: dict | None = None) -> DataFrame:
    """Read an Iceberg table at its current (or named) snapshot."""
    opts = options or {}
    meta = _table_metadata(path)
    loc = meta.get("location")
    schema = _current_schema(meta)

    snap_id = opts.get("snapshot-id", opts.get("snapshotId"))
    snaps = meta.get("snapshots") or []
    as_of_ts = opts.get("as-of-timestamp", opts.get("asOfTimestamp"))
    if as_of_ts is not None:
        if snap_id is not None:
            raise ValueError("give snapshot-id OR as-of-timestamp, not both")
        eligible = [s for s in snaps if s.get("timestamp-ms", 0) <= int(as_of_ts)]
        if not eligible:
            raise ValueError(
                f"as-of-timestamp {as_of_ts} precedes the first snapshot")
        snap_id = max(eligible, key=lambda s: s["timestamp-ms"])["snapshot-id"]
    if snap_id is not None:
        snap = next((s for s in snaps if s["snapshot-id"] == int(snap_id)), None)
        if snap is None:
            raise ValueError(f"snapshot {snap_id} not in table metadata")
    else:
        cur = meta.get("current-snapshot-id")
        snap = next((s for s in snaps if s["snapshot-id"] == cur), None)
    if snap is None:
        return local_frame(spark, [], schema)

    predicate_opt = opts.get("predicate")
    data_files, pos_deletes, eq_deletes = _snapshot_files(
        spark, path, meta, snap, predicate=predicate_opt)

    # ---- stats-based file skipping (metadata-only, before any I/O) ----
    # `predicate` prunes the data-file list with the manifest entries'
    # lower/upper bounds, null counts and identity partition values,
    # then re-applies as a REAL Catalyst filter below — entries without
    # usable bounds are kept and unparseable predicates prune nothing,
    # so results are exact regardless of stats coverage. This is the
    # metadata scan-planning step every Iceberg engine does
    # (InclusiveMetricsEvaluator); the reference gets it from
    # iceberg-core's planFiles() inside contrib/storage-iceberg.
    predicate = opts.get("predicate")
    if predicate and data_files:
        data_files = _prune_data_files(meta, data_files, predicate)
    pred_col = F.expr(predicate) if predicate else None

    if not data_files:
        out = local_frame(spark, [], schema)
        return out.where(pred_col) if pred_col is not None else out

    df = spark.read.schema(schema).parquet(*[p for p, _, _, _ in data_files])
    if pos_deletes or eq_deletes:
        df = _apply_deletes(spark, df, schema, meta, data_files,
                            pos_deletes, eq_deletes)
    return df.where(pred_col) if pred_col is not None else df


def _kept_manifest_rows(meta: dict, manifest_rows: list,
                        predicate: str) -> list:
    """Manifest-list rows surviving partition-summary pruning for
    ``predicate``; rows without summaries, delete manifests, and
    non-identity specs are always kept."""
    from drill_spark.readers.delta_stats import (
        file_may_match,
        parse_skipping_predicate,
    )

    node = parse_skipping_predicate(predicate)
    if node is None:
        return manifest_rows
    try:
        part_fields = _spec_part_fields(meta)
    except NotImplementedError:
        return manifest_rows
    if not part_fields:
        return manifest_rows
    kept = []
    for m in manifest_rows:
        if m.get("content", 0) != 0:
            kept.append(m)
            continue
        pseudo = manifest_pseudo_stats(m, part_fields)
        if pseudo is None or file_may_match(pseudo, node):
            kept.append(m)
    return kept


def skipping_report(spark: SparkSession, path: str, predicate: str) -> dict:
    """{"total": n_data_files, "candidates": n_after_pruning,
    "manifests_total": n, "manifests_kept": n} — how many data files
    (and, level above, data manifests) the stats pruner keeps for
    ``predicate``; the observable data-skipping contract (mirrors the
    Delta sibling delta.skipping_report)."""
    meta = _table_metadata(path)
    snap = next(
        (s for s in (meta.get("snapshots") or [])
         if s["snapshot-id"] == meta.get("current-snapshot-id")), None)
    if snap is None:
        return {"total": 0, "candidates": 0,
                "manifests_total": 0, "manifests_kept": 0}
    with open(_rebase(snap["manifest-list"], path,
                      meta.get("location")), "rb") as f:
        _, ml_rows = decode_file(f.read())
    data_ml = [m for m in ml_rows if m.get("content", 0) == 0]
    kept_ml = [m for m in _kept_manifest_rows(meta, ml_rows, predicate)
               if m.get("content", 0) == 0]
    data_files, _pos, _eq = _snapshot_files(spark, path, meta, snap)
    kept = _prune_data_files(meta, data_files, predicate)
    return {"total": len(data_files), "candidates": len(kept),
            "manifests_total": len(data_ml), "manifests_kept": len(kept_ml)}


def _prune_data_files(meta: dict, data_files: list, predicate: str) -> list:
    """Subset of ``data_files`` whose stats/partition values admit the
    predicate; the shared conjunct parser + satisfiability engine from
    delta_stats does the evaluation (one pruning oracle, two table
    formats). Files without stats are always kept."""
    from drill_spark.readers.delta_stats import (
        file_may_match,
        parse_skipping_predicate,
    )

    node = parse_skipping_predicate(predicate)
    if node is None:
        return data_files
    fields = _current_schema_dict(meta).get("fields", [])
    id_to_name = {f["id"]: f["name"] for f in fields if "id" in f}
    id_to_type = {f["id"]: f["type"] for f in fields
                  if "id" in f and isinstance(f.get("type"), str)}
    kept = []
    for local, fp, seq, dmeta in data_files:
        if dmeta is None:
            kept.append((local, fp, seq, dmeta))
            continue
        stats = stats_to_delta_shape(dmeta, id_to_name, id_to_type)
        pv = dmeta.get("partition") or None
        if file_may_match(stats, node, pv):
            kept.append((local, fp, seq, dmeta))
    return kept


def _snapshot_files(spark, path: str, meta: dict, snap: dict,
                    predicate: str | None = None):
    """Walk one snapshot's manifest list into (data_files, pos_deletes,
    eq_deletes): data_files = (local path, manifest URI, seq).

    ``predicate`` enables MANIFEST-level pruning: data manifests whose
    manifest-list partition summaries refute the predicate are dropped
    before their entries are ever decoded — at thousands of manifests
    this is the planning level above per-file skipping (the spec's
    ManifestEvaluator step). Delete manifests are never pruned (their
    entries only remove rows)."""
    loc = meta.get("location")
    ml_path = _rebase(snap["manifest-list"], path, loc)
    with open(ml_path, "rb") as f:
        _, manifest_rows = decode_file(f.read())
    if predicate:
        manifest_rows = _kept_manifest_rows(meta, manifest_rows, predicate)
    # (manifest_path, manifest_sequence_number) — entry-level nulls
    # inherit the manifest's sequence number per the spec
    manifests = [
        (_rebase(m["manifest_path"], path, loc), m.get("sequence_number") or 0)
        for m in manifest_rows
    ]

    # decode manifests in executors: thousands of manifests on a big
    # table, each independent — classic embarrassing parallelism
    def _entries(pairs):
        out = []
        for mp, mseq in pairs:
            with open(mp, "rb") as f:
                _, rows = decode_file(f.read())
            for e in rows:
                if e.get("status", 1) == 2:  # DELETED entry
                    continue
                d = e.get("data_file") or {}
                seq = e.get("sequence_number")
                # per-file skipping inputs (None-safe on old manifests):
                # partition values + stats maps, planner-sized
                dmeta = {
                    "partition": d.get("partition") or {},
                    "record_count": d.get("record_count"),
                    "lower_bounds": d.get("lower_bounds"),
                    "upper_bounds": d.get("upper_bounds"),
                    "null_value_counts": d.get("null_value_counts"),
                } if d.get("content", 0) == 0 else None
                out.append(
                    (
                        d.get("content", 0),
                        d.get("file_path"),
                        d.get("file_format"),
                        mseq if seq is None else seq,
                        tuple(d.get("equality_ids") or ()),
                        dmeta,
                    )
                )
        return out

    if len(manifests) > 4:
        rdd = spark.sparkContext.parallelize(manifests, min(len(manifests), 64))
        entries = rdd.mapPartitions(lambda it: _entries(list(it))).collect()
    else:
        entries = _entries(manifests)

    # data_files: (local path, manifest URI, seq, stats/partition dict)
    data_files: list[tuple[str, str, int, dict | None]] = []
    pos_deletes: list[tuple[str, int]] = []      # (local path, delete seq)
    eq_deletes: list[tuple[str, int, tuple]] = []  # (+equality_ids)
    for content, fp, fmt, seq, eq_ids, dmeta in entries:
        if fmt and str(fmt).upper() != "PARQUET":
            raise NotImplementedError(f"Iceberg {fmt} files (parquet only here)")
        local = _rebase(fp, path, loc)
        if content == 0:
            data_files.append((local, fp, seq, dmeta))
        elif content == 1:
            pos_deletes.append((local, seq))
        elif content == 2:
            eq_deletes.append((local, seq, eq_ids))
        else:
            raise NotImplementedError(f"Iceberg manifest content {content}")
    return data_files, pos_deletes, eq_deletes


def _apply_deletes(spark, df, schema, meta, data_files, pos_deletes, eq_deletes):
    """Anti-join row-level delete files onto the data scan.

    The data side is annotated with its Iceberg identity — the
    manifest entry's file URI (position-delete ``file_path`` values
    must equal it per the spec, so the join key is the MANIFEST URI,
    not the possibly-rebased local path), the row's position in the
    file (``_metadata.row_index``), and the file's data sequence
    number; all three come from a broadcast local-path lookup, one row
    per data file — planner-sized, same as every Iceberg engine holds.
    """
    annotated = _annotate_scan(spark, df, data_files)
    annotated = _anti_join_deletes(spark, annotated, meta, pos_deletes, eq_deletes)
    from pyspark.sql import functions as F

    return annotated.select(*[F.col(f.name) for f in schema.fields])


def _annotate_scan(spark, df, data_files):
    """Attach the Iceberg row identity (_df_uri manifest URI, _df_pos
    file position, _df_seq data sequence number) via a broadcast
    local-path lookup — one row per data file, planner-sized."""
    from pyspark.sql import functions as F

    strip = lambda c: F.regexp_replace(c, "^file:/*", "/")
    seq_map = local_frame(
        spark, [(os.path.abspath(p), u, s) for p, u, s, _m in data_files],
        "_df_path string, _df_uri string, _df_seq long",
    )
    return (
        df.withColumn("_df_path", strip(F.col("_metadata.file_path")))
        .withColumn("_df_pos", F.col("_metadata.row_index"))
        .join(F.broadcast(seq_map), "_df_path", "left")
    )


def _anti_join_deletes(spark, annotated, meta, pos_deletes, eq_deletes):
    from pyspark.sql import functions as F

    if pos_deletes:
        # columns per spec: file_path (2147483546), pos (2147483545);
        # per-file literal delete-seq, then ONE anti-join for all files
        dels = None
        for p, dseq in pos_deletes:
            one = (
                spark.read.parquet(p)
                .select(
                    F.col("file_path").alias("_del_uri"),
                    F.col("pos").cast("long").alias("_del_pos"),
                    F.lit(dseq).cast("long").alias("_del_seq"),
                )
            )
            dels = one if dels is None else dels.unionByName(one)
        # no forced broadcast: delete sets can reach GBs on a big table;
        # AQE broadcasts them when they are in fact small
        annotated = annotated.join(
            dels,
            on=[
                annotated["_df_uri"] == dels["_del_uri"],
                annotated["_df_pos"] == dels["_del_pos"],
                annotated["_df_seq"] <= dels["_del_seq"],
            ],
            how="left_anti",
        )

    if eq_deletes:
        id_names = _field_id_names(meta)
        for p, dseq, eq_ids in eq_deletes:
            cols = [id_names[i] for i in eq_ids]
            if not cols:
                raise NotImplementedError("equality delete file without equality_ids")
            dd = spark.read.parquet(p).select(
                *[F.col(c).alias(f"_del_{c}") for c in cols]
            ).dropDuplicates()
            cond = [annotated[c].eqNullSafe(dd[f"_del_{c}"]) for c in cols]
            cond.append(annotated["_df_seq"] < F.lit(dseq))
            annotated = annotated.join(dd, on=cond, how="left_anti")

    return annotated


# ---------------------------------------------------------------- writer

# Avro schemas for the manifest-list and manifest files, per the spec's
# required field IDs (https://iceberg.apache.org/spec/#manifests). Only
# the fields a reader of unpartitioned parquet tables needs.
_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        # per-manifest partition value ranges — manifest-LEVEL pruning
        ML_PARTITIONS_FIELD,
    ],
}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"], "field-id": 4},
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {
                        "name": "partition",
                        "field-id": 102,
                        "type": {"type": "record", "name": "r102", "fields": []},
                    },
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                    # per-file column stats (spec field-ids) — what
                    # scan planning prunes on (iceberg_stats.py)
                    *ICE_STATS_FIELDS,
                ],
            },
        },
    ],
}


def _spark_to_ice(dt: T.DataType):
    for name, t in _PRIM.items():
        if dt == t and name != "time":
            return name
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.StructType):
        return {
            "type": "struct",
            "fields": [
                {
                    "id": 0,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _spark_to_ice(f.dataType),
                }
                for f in dt.fields
            ],
        }
    if isinstance(dt, T.ArrayType):
        return {"type": "list", "element-id": 0,
                "element-required": not dt.containsNull,
                "element": _spark_to_ice(dt.elementType)}
    raise NotImplementedError(f"spark->iceberg type {dt}")


# avro primitive names usable as identity-partition value types
_ICE_AVRO_PART = {"int": "int", "long": "long", "string": "string",
                  "double": "double", "float": "float", "boolean": "boolean"}


def _walk_parquet(root: str) -> set:
    found = set()
    if not os.path.isdir(root):
        return found
    for r, _d, files in os.walk(root):
        for n in files:
            if n.endswith(".parquet"):
                found.add(os.path.relpath(os.path.join(r, n), root))
    return found


def _partition_write(df: DataFrame, data_dir: str, part_cols: list) -> list:
    """Distributed write under ``data_dir`` with hive-layout dirs for
    the identity partition columns while KEEPING the columns in the
    data files (the Iceberg convention — identity values live in both
    the files and the manifests): the dir columns are duplicates named
    ``_p_<col>``; manifests carry the real column names. Returns the
    new parquet files as data_dir-relative paths."""
    from pyspark.sql import functions as _F

    before = _walk_parquet(data_dir)
    out = df
    dir_cols = []
    for c in part_cols:
        out = out.withColumn(f"_p_{c}", _F.col(c))
        dir_cols.append(f"_p_{c}")
    writer = out.write.mode("append").format("parquet")
    if dir_cols:
        writer = writer.partitionBy(*dir_cols)
    writer.save(data_dir)
    return sorted(_walk_parquet(data_dir) - before)


def _partition_values_from_rel(rel: str, part_types: dict) -> dict:
    """{col: typed value} parsed from the ``_p_<col>=<v>`` dir segments
    of a data-file path."""
    from urllib.parse import unquote

    vals = {}
    for seg in rel.split(os.sep)[:-1]:
        if "=" not in seg or not seg.startswith("_p_"):
            continue
        k, v = seg.split("=", 1)
        c = k[3:]
        if c not in part_types:
            continue
        v = unquote(v)
        if v == "__HIVE_DEFAULT_PARTITION__":
            vals[c] = None
            continue
        t = part_types[c]
        if t in ("int", "long"):
            vals[c] = int(v)
        elif t in ("double", "float"):
            vals[c] = float(v)
        elif t == "boolean":
            vals[c] = v == "true"
        else:
            vals[c] = v
    return vals


def _entry_schema(part_fields: list) -> dict:
    """Manifest-entry schema with typed identity-partition fields
    (spec partition-field-ids start at 1000)."""
    if not part_fields:
        return _MANIFEST_ENTRY_SCHEMA
    import copy

    sch = copy.deepcopy(_MANIFEST_ENTRY_SCHEMA)
    df_rec = next(f for f in sch["fields"] if f["name"] == "data_file")["type"]
    prec = next(f for f in df_rec["fields"] if f["name"] == "partition")
    prec["type"] = {"type": "record", "name": "r102", "fields": [
        {"name": c, "type": ["null", _ICE_AVRO_PART[t]], "field-id": 1000 + i}
        for i, (c, t) in enumerate(part_fields)
    ]}
    return sch


def _spec_part_fields(meta: dict) -> list:
    """[(name, iceberg-type-name)] of the default partition spec's
    identity fields; raises for non-identity transforms."""
    specs = meta.get("partition-specs") or []
    sid = meta.get("default-spec-id", 0)
    spec = next((sp for sp in specs if sp.get("spec-id") == sid),
                specs[0] if specs else {"fields": []})
    names = {f["id"]: f for f in _current_schema_dict(meta).get("fields", [])}
    out = []
    for f in spec.get("fields") or []:
        if f.get("transform") != "identity":
            raise NotImplementedError(
                f"partition transform {f.get('transform')!r} (identity only)")
        src = names.get(f.get("source-id"))
        out.append((f["name"], src["type"] if src else "string"))
    return out


def _stats_name_maps(meta: dict) -> tuple[dict, dict]:
    """(column name -> field id, column name -> primitive iceberg type)
    for the current schema — the inputs data_file_stats needs to key
    its maps by field id and serialize bounds per type. Nested columns
    have non-string types and are left out (no bounds written)."""
    fields = _current_schema_dict(meta).get("fields", [])
    name_to_id = {f["name"]: f["id"] for f in fields if "id" in f}
    name_to_type = {f["name"]: f["type"] for f in fields
                    if isinstance(f.get("type"), str)}
    return name_to_id, name_to_type


def _entry_stats(fp: str, name_to_id: dict, name_to_type: dict) -> dict:
    """The four stats-map fields for one data_file manifest entry."""
    st = data_file_stats(fp, name_to_id, name_to_type)
    return {k: st[k] for k in ("value_counts", "null_value_counts",
                               "lower_bounds", "upper_bounds")}


def write_iceberg(df: DataFrame, path: str, mode: str = "error",
                  partition_by: list | None = None,
                  summary_extra: dict | None = None) -> None:
    """Write a DataFrame as a new format-version-2 Iceberg table:
    parquet data via Spark's distributed writer, then one manifest +
    manifest list + v1 metadata JSON + version hint. ``partition_by``
    creates an IDENTITY-partitioned spec: hive-layout data dirs, the
    partition columns kept in the files (the Iceberg convention), and
    typed partition values in every manifest entry — what real engines
    prune on. ``mode="append"`` on an existing table commits an append
    snapshot instead (append_iceberg, which honors the table's spec).
    Single writer — what CTAS/INSERT need; commit races and schema
    evolution stay with real catalogs."""
    import time
    import uuid

    from drill_spark.readers.avro import encode_file

    if os.path.isdir(os.path.join(path, "metadata")):
        if mode == "append":
            return append_iceberg(df, path, summary_extra=summary_extra)
        raise ValueError(f"Iceberg table already exists at {path}")
    partition_by = list(partition_by or [])
    unknown = [c for c in partition_by if c not in df.columns]
    if unknown:
        raise ValueError(f"partition_by columns not in schema: {unknown}")
    data_dir = os.path.join(path, "data")
    rel_files = _partition_write(df, data_dir, partition_by)
    data_files = [os.path.join(data_dir, rel) for rel in rel_files]
    mdir = os.path.join(path, "metadata")
    os.makedirs(mdir)
    snap_id = 1
    now_ms = int(time.time() * 1000)

    part_types = {
        f.name: _spark_to_ice(f.dataType)
        for f in df.schema.fields if f.name in partition_by
    }
    for c, t in part_types.items():
        if not isinstance(t, str) or t not in _ICE_AVRO_PART:
            raise NotImplementedError(
                f"identity partition on type {t!r} (column {c})")
    part_fields = [(c, part_types[c]) for c in partition_by]

    name_to_id = {fld.name: i + 1 for i, fld in enumerate(df.schema.fields)}
    name_to_type = {}
    for fld in df.schema.fields:
        t = _spark_to_ice(fld.dataType)
        if isinstance(t, str):
            name_to_type[fld.name] = t
    entries = []
    for rel in rel_files:
        fp = os.path.join(data_dir, rel)
        st = data_file_stats(fp, name_to_id, name_to_type)
        entries.append({
            "status": 1,  # ADDED
            "snapshot_id": snap_id,
            "sequence_number": 1,
            "file_sequence_number": 1,
            "data_file": {
                "content": 0,
                "file_path": fp,
                "file_format": "PARQUET",
                "partition": _partition_values_from_rel(rel, part_types),
                "record_count": st["record_count"],
                "file_size_in_bytes": os.path.getsize(fp),
                "value_counts": st["value_counts"],
                "null_value_counts": st["null_value_counts"],
                "lower_bounds": st["lower_bounds"],
                "upper_bounds": st["upper_bounds"],
            },
        })
    manifest_path = os.path.join(mdir, f"{uuid.uuid4()}-m0.avro")
    with open(manifest_path, "wb") as f:
        f.write(encode_file(_entry_schema(part_fields), entries))

    ml_path = os.path.join(mdir, f"snap-{snap_id}-1-{uuid.uuid4()}.avro")
    ml_row = {
        "manifest_path": manifest_path,
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": 1,
        "min_sequence_number": 1,
        "added_snapshot_id": snap_id,
        "added_files_count": len(data_files),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": sum(
            e["data_file"]["record_count"] for e in entries),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
        "partitions": partition_field_summaries(entries, part_fields),
    }
    with open(ml_path, "wb") as f:
        f.write(encode_file(_MANIFEST_LIST_SCHEMA, [ml_row]))

    fields = [
        {"id": i + 1, "name": fld.name, "required": not fld.nullable,
         "type": _spark_to_ice(fld.dataType)}
        for i, fld in enumerate(df.schema.fields)
    ]
    meta = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": path,
        "last-sequence-number": 1,
        "last-updated-ms": now_ms,
        "last-column-id": len(fields),
        "current-schema-id": 0,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": fields}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": c, "transform": "identity",
             "source-id": next(i + 1 for i, fld in enumerate(df.schema.fields)
                               if fld.name == c),
             "field-id": 1000 + j}
            for j, c in enumerate(partition_by)
        ]}],
        "last-partition-id": 999 + len(partition_by),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": snap_id,
        "snapshots": [
            {
                "snapshot-id": snap_id,
                "sequence-number": 1,
                "timestamp-ms": now_ms,
                "manifest-list": ml_path,
                "summary": {"operation": "append", **(summary_extra or {})},
                "schema-id": 0,
            }
        ],
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write("1")


def append_iceberg(df: DataFrame, path: str,
                   summary_extra: dict | None = None) -> None:
    """Commit an APPEND snapshot to an existing table: new parquet
    files via Spark's distributed writer, one data manifest at the next
    sequence number, and a manifest list extending the prior
    snapshot's. ``summary_extra`` adds properties to the snapshot
    summary (how Iceberg's own streaming sink records the query id +
    epoch for exactly-once replay skipping)."""
    import time
    import uuid

    import pyarrow.parquet as pq

    from drill_spark.readers.avro import encode_file

    meta = _table_metadata(path)
    want = [f["name"] for f in _current_schema_dict(meta)["fields"]]
    if [c for c in df.columns] != want:
        raise ValueError(f"append schema mismatch: table has {want}, got {df.columns}")

    part_fields = _spec_part_fields(meta)
    part_types = dict(part_fields)
    data_dir = os.path.join(path, "data")
    rel_files = _partition_write(df, data_dir, [c for c, _t in part_fields])

    mdir = os.path.join(path, "metadata")
    seq = int(meta.get("last-sequence-number", 0)) + 1
    snap_id = int(meta["current-snapshot-id"]) + 1
    now_ms = int(time.time() * 1000)
    name_to_id, name_to_type = _stats_name_maps(meta)
    entries = [
        {
            "status": 1,
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 0,
                "file_path": os.path.join(data_dir, rel),
                "file_format": "PARQUET",
                "partition": _partition_values_from_rel(rel, part_types),
                "record_count": pq.read_metadata(
                    os.path.join(data_dir, rel)).num_rows,
                "file_size_in_bytes": os.path.getsize(os.path.join(data_dir, rel)),
                **_entry_stats(os.path.join(data_dir, rel),
                               name_to_id, name_to_type),
            },
        }
        for rel in rel_files
    ]
    manifest_path = os.path.join(mdir, f"{uuid.uuid4()}-m0.avro")
    with open(manifest_path, "wb") as f:
        f.write(encode_file(_entry_schema(part_fields), entries))

    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    with open(_rebase(cur["manifest-list"], path, meta.get("location")), "rb") as f:
        _, prior_rows = decode_file(f.read())
    ml_row = {
        "manifest_path": manifest_path,
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": sum(e["data_file"]["record_count"] for e in entries),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
        "partitions": partition_field_summaries(entries, part_fields),
    }
    ml_path = os.path.join(mdir, f"snap-{snap_id}-1-{uuid.uuid4()}.avro")
    with open(ml_path, "wb") as f:
        f.write(encode_file(_MANIFEST_LIST_SCHEMA, list(prior_rows) + [ml_row]))

    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    meta["current-snapshot-id"] = snap_id
    meta["snapshots"].append({
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": ml_path,
        "summary": {"operation": "append", **(summary_extra or {})},
        "schema-id": 0,
    })
    v = len([f for f in os.listdir(mdir) if f.endswith(".metadata.json")]) + 1
    with open(os.path.join(mdir, f"v{v}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(v))


_DELETE_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": _MANIFEST_ENTRY_SCHEMA["fields"][:-1]
    + [
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {
                        "name": "partition",
                        "field-id": 102,
                        "type": {"type": "record", "name": "r102", "fields": []},
                    },
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "int"}],
                        "field-id": 135,
                    },
                ],
            },
        }
    ],
}


def describe_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per snapshot (id, commit time,
    operation) from the table metadata."""
    snaps = _table_metadata(path).get("snapshots") or []
    return local_frame(
        spark, [(int(s["snapshot-id"]), int(s.get("timestamp-ms", 0)),
          (s.get("summary") or {}).get("operation"))
         for s in snaps],
        "version long, timestamp_ms long, operation string",
    )


def append_delete_files(
    path: str,
    position_deletes: list[tuple[str, int]] | None = None,
    equality_deletes: "DataFrame | None" = None,
    equality_cols: list[str] | None = None,
) -> None:
    """Commit a format-version-2 delete snapshot to a table written by
    :func:`write_iceberg`: position deletes as (data_file_path, pos)
    pairs and/or one equality-delete set over ``equality_cols``.

    Spec shapes (https://iceberg.apache.org/spec/#delete-formats):
    position delete parquet columns are ``file_path``/``pos`` with
    field ids 2147483546/2147483545; equality deletes store the
    equality columns and list their field ids in the manifest entry's
    ``equality_ids``. The new snapshot takes sequence number N+1, so
    the deletes scope over all previously-committed data files.
    """
    import time
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from drill_spark.readers.avro import encode_file

    meta = _table_metadata(path)
    mdir = os.path.join(path, "metadata")
    seq = int(meta.get("last-sequence-number", 0)) + 1
    snap_id = int(meta["current-snapshot-id"]) + 1
    now_ms = int(time.time() * 1000)
    data_dir = os.path.join(path, "data")

    del_entries = []

    def _mk_entry(fp: str, content: int, nrec: int, eq_ids=None) -> dict:
        return {
            "status": 1,
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": content,
                "file_path": fp,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": nrec,
                "file_size_in_bytes": os.path.getsize(fp),
                "equality_ids": eq_ids,
            },
        }

    if position_deletes:
        rows = sorted(position_deletes)
        fp = os.path.join(data_dir, f"{uuid.uuid4()}-pos-deletes.parquet")
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array([r[0] for r in rows], pa.string()),
                    "pos": pa.array([r[1] for r in rows], pa.int64()),
                }
            ),
            fp,
        )
        del_entries.append(_mk_entry(fp, 1, len(rows)))

    if equality_deletes is not None:
        if not equality_cols:
            raise ValueError("equality_cols required with equality_deletes")
        import shutil

        id_by_name = {v: k for k, v in _field_id_names(meta).items()}
        eq_ids = [id_by_name[c] for c in equality_cols]
        # write the delete set through Spark's DISTRIBUTED parquet writer
        # (never toPandas — the spec doesn't bound equality-delete size);
        # each non-empty part file becomes its own delete-file manifest
        # entry, which the spec allows (any number of delete files per
        # snapshot). record_count comes from the parquet footer, no read.
        tmp = os.path.join(data_dir, f"_eqdel_{uuid.uuid4()}")
        equality_deletes.select(*equality_cols).write.parquet(tmp)
        for name in sorted(os.listdir(tmp)):
            if not name.endswith(".parquet"):
                continue
            nrec = pq.read_metadata(os.path.join(tmp, name)).num_rows
            if nrec == 0:
                continue
            fp = os.path.join(data_dir, f"{uuid.uuid4()}-eq-deletes.parquet")
            os.rename(os.path.join(tmp, name), fp)
            del_entries.append(_mk_entry(fp, 2, nrec, eq_ids))
        shutil.rmtree(tmp)

    _commit_delete_entries(path, meta, del_entries, seq, snap_id, now_ms)


def _commit_delete_entries(path: str, meta: dict, del_entries: list[dict],
                           seq: int, snap_id: int, now_ms: int) -> None:
    _commit_mixed_snapshot(path, meta, del_entries, [], seq, snap_id, now_ms,
                           operation="delete")


def _commit_mixed_snapshot(path: str, meta: dict, del_entries: list[dict],
                           data_entries: list[dict], seq: int, snap_id: int,
                           now_ms: int, operation: str = "overwrite",
                           part_fields: list | None = None) -> None:
    """Append ONE snapshot carrying a delete manifest and/or a data
    manifest (the atomic commit shape UPDATE/MERGE need): new manifest
    list = prior snapshot's rows + the new manifests + next
    vN.metadata.json. ``part_fields`` types the data manifest's
    partition record on identity-partitioned tables."""
    import uuid

    from drill_spark.readers.avro import encode_file

    mdir = os.path.join(path, "metadata")
    data_schema = _entry_schema(list(part_fields or []))
    new_rows = []
    for entries, schema_, content, tag in (
        (del_entries, _DELETE_ENTRY_SCHEMA, 1, "d0"),
        (data_entries, data_schema, 0, "m0"),
    ):
        if not entries:
            continue
        manifest_path = os.path.join(mdir, f"{uuid.uuid4()}-{tag}.avro")
        with open(manifest_path, "wb") as f:
            f.write(encode_file(schema_, entries))
        new_rows.append({
            "manifest_path": manifest_path,
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": sum(e["data_file"]["record_count"] for e in entries),
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": partition_field_summaries(
                entries, list(part_fields or [])) if content == 0 else None,
        })

    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    with open(_rebase(cur["manifest-list"], path, meta.get("location")), "rb") as f:
        _, prior_rows = decode_file(f.read())
    ml_path = os.path.join(mdir, f"snap-{snap_id}-1-{uuid.uuid4()}.avro")
    with open(ml_path, "wb") as f:
        f.write(encode_file(_MANIFEST_LIST_SCHEMA, list(prior_rows) + new_rows))

    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    meta["current-snapshot-id"] = snap_id
    meta["snapshots"].append(
        {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": ml_path,
            "summary": {"operation": operation},
            "schema-id": 0,
        }
    )
    v = len([f for f in os.listdir(mdir) if f.endswith(".metadata.json")]) + 1
    with open(os.path.join(mdir, f"v{v}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(v))


def read_incremental(spark: SparkSession, path: str, from_snapshot: int,
                     to_snapshot: int | None = None,
                     skip_overwrites: bool = False) -> DataFrame:
    """Incremental append scan (Iceberg's incremental read): rows in
    data files ADDED by snapshots in (from_snapshot, to_snapshot],
    tagged with ``_snapshot_id``. Delete/replace snapshots contribute
    nothing (they add no rows — same contract as Iceberg's append-only
    incremental scan; consumers needing row-level deletes diff
    snapshots instead). An OVERWRITE snapshot in the window (UPDATE/
    MERGE rewrote rows) RAISES, matching Iceberg's incremental-scan
    contract — silently dropping it would let consumers miss data with
    no signal; pass ``skip_overwrites=True`` to opt into the lossy
    feed (Flink's streaming-skip-overwrite-snapshots switch)."""
    loc_meta = _table_metadata(path)
    loc = loc_meta.get("location")
    schema = _current_schema(loc_meta)
    out = None
    for snap in sorted(loc_meta.get("snapshots") or [],
                       key=lambda s: s["snapshot-id"]):
        sid = snap["snapshot-id"]
        if sid <= from_snapshot or (to_snapshot is not None and sid > to_snapshot):
            continue
        op = (snap.get("summary") or {}).get("operation")
        if op == "overwrite" and not skip_overwrites:
            raise ValueError(
                f"incremental scan window contains overwrite snapshot {sid} "
                "(UPDATE/MERGE rewrote rows); rows it inserted or rewrote "
                "cannot be represented in an append-only feed — pass "
                "skip_overwrites=True to skip it explicitly"
            )
        if op not in (None, "append"):
            continue
        ml = _rebase(snap["manifest-list"], path, loc)
        with open(ml, "rb") as f:
            _, rows = decode_file(f.read())
        added = []
        for m in rows:
            if m.get("added_snapshot_id") != sid or m.get("content", 0) != 0:
                continue
            with open(_rebase(m["manifest_path"], path, loc), "rb") as f:
                _, es = decode_file(f.read())
            for e in es:
                d = e.get("data_file") or {}
                if (e.get("status", 1) == 1 and d.get("content", 0) == 0
                        and e.get("snapshot_id") in (None, sid)):
                    added.append(_rebase(d["file_path"], path, loc))
        if not added:
            continue
        piece = spark.read.schema(schema).parquet(*added).withColumn(
            "_snapshot_id", F.lit(sid).cast("long"))
        out = piece if out is None else out.unionByName(piece)
    if out is None:
        empty = T.StructType(
            list(schema.fields) + [T.StructField("_snapshot_id", T.LongType())]
        )
        return local_frame(spark, [], empty)
    return out


def rewrite_data_files(spark: SparkSession, path: str) -> dict:
    """Compaction (Iceberg's rewrite_data_files action): materialize the
    CURRENT live rows (all position/equality deletes applied) into fresh
    parquet files and commit a REPLACE snapshot whose manifest list
    contains only the new data manifest — merge-on-read debt is paid
    down and subsequent scans touch no delete files. Old files stay
    until expire_snapshots reclaims them (time travel keeps working).
    The read+write is Spark-distributed end to end. Returns
    {"added_files": n, "rows": n}."""
    import time
    import uuid

    import pyarrow.parquet as pq

    from drill_spark.readers.avro import encode_file

    meta = _table_metadata(path)
    schema = _current_schema(meta)
    part_fields = _spec_part_fields(meta)
    part_types = dict(part_fields)
    live = read_iceberg(spark, path)

    data_dir = os.path.join(path, "data")
    rel_files = _partition_write(live, data_dir, [c for c, _t in part_fields])

    mdir = os.path.join(path, "metadata")
    seq = int(meta.get("last-sequence-number", 0)) + 1
    snap_id = int(meta["current-snapshot-id"]) + 1
    now_ms = int(time.time() * 1000)
    name_to_id, name_to_type = _stats_name_maps(meta)
    entries, rows = [], 0
    for rel in rel_files:
        fp = os.path.join(data_dir, rel)
        nrec = pq.read_metadata(fp).num_rows
        if nrec == 0:
            os.remove(fp)
            continue
        rows += nrec
        entries.append({
            "status": 1,
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 0,
                "file_path": fp,
                "file_format": "PARQUET",
                "partition": _partition_values_from_rel(rel, part_types),
                "record_count": nrec,
                "file_size_in_bytes": os.path.getsize(fp),
                **_entry_stats(fp, name_to_id, name_to_type),
            },
        })
    manifest_path = os.path.join(mdir, f"{uuid.uuid4()}-m0.avro")
    with open(manifest_path, "wb") as f:
        f.write(encode_file(_entry_schema(part_fields), entries))
    ml_row = {
        "manifest_path": manifest_path,
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
        "partitions": partition_field_summaries(entries, part_fields),
    }
    ml_path = os.path.join(mdir, f"snap-{snap_id}-1-{uuid.uuid4()}.avro")
    with open(ml_path, "wb") as f:
        f.write(encode_file(_MANIFEST_LIST_SCHEMA, [ml_row]))  # REPLACE: new manifest only

    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    meta["current-snapshot-id"] = snap_id
    meta["snapshots"].append({
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": ml_path,
        "summary": {"operation": "replace"},
        "schema-id": 0,
    })
    v = len([f for f in os.listdir(mdir) if f.endswith(".metadata.json")]) + 1
    with open(os.path.join(mdir, f"v{v}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(v))
    return {"added_files": len(entries), "rows": rows}


def expire_snapshots(spark: SparkSession, path: str, keep_last: int = 1) -> dict:
    """Expire old snapshots (the Iceberg maintenance op every engine
    ships): drop all but the last ``keep_last`` snapshots (the current
    one is always kept) from table metadata and delete the manifest
    lists / manifests / data+delete files referenced ONLY by expired
    snapshots. A file shared with any retained snapshot survives.
    Driver-side metadata walking — planner-sized, the same budget every
    snapshot read already spends. Returns {"expired": n,
    "removed_files": n}."""
    import time

    meta = _table_metadata(path)
    loc = meta.get("location")
    snaps = sorted(meta.get("snapshots") or [], key=lambda s: s["snapshot-id"])
    cur = meta.get("current-snapshot-id")
    keep_ids = {s["snapshot-id"] for s in snaps[-max(keep_last, 1):]} | {cur}
    expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
    if not expired:
        return {"expired": 0, "removed_files": 0}

    def refs(snap: dict) -> set[str]:
        ml = _rebase(snap["manifest-list"], path, loc)
        out = {ml}
        with open(ml, "rb") as f:
            _, rows = decode_file(f.read())
        for m in rows:
            mp = _rebase(m["manifest_path"], path, loc)
            out.add(mp)
            with open(mp, "rb") as f:
                _, es = decode_file(f.read())
            for e in es:
                d = e.get("data_file") or {}
                if d.get("file_path"):
                    out.add(_rebase(d["file_path"], path, loc))
        return out

    keep_files: set[str] = set()
    for s in snaps:
        if s["snapshot-id"] in keep_ids:
            keep_files |= refs(s)
    # resolve EVERY expired snapshot's references before deleting any
    # file — expired snapshots share manifests with each other
    expired_files: set[str] = set()
    for s in expired:
        expired_files |= refs(s)
    removed = 0
    for fp in expired_files - keep_files:
        try:
            os.remove(fp)
            removed += 1
        except OSError:
            pass

    meta["snapshots"] = [s for s in snaps if s["snapshot-id"] in keep_ids]
    meta["last-updated-ms"] = int(time.time() * 1000)
    mdir = os.path.join(path, "metadata")
    v = len([f for f in os.listdir(mdir) if f.endswith(".metadata.json")]) + 1
    with open(os.path.join(mdir, f"v{v}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(v))
    return {"expired": len(expired), "removed_files": removed}


def delete_where(spark: SparkSession, path: str, condition: str) -> int:
    """Row-level DELETE on an Iceberg v2 table — the merge-on-read DELETE
    every Iceberg engine implements (spec "Position Delete Files"): rows
    matching ``condition`` among the CURRENT live rows (existing
    position/equality deletes applied first) are written as position
    delete files and committed as a new delete snapshot.

    Scale shape mirrors the Delta delete_where: the matched (file_path,
    pos) pairs never touch the driver — Spark's distributed parquet
    writer emits them repartitioned by file and sorted by (file_path,
    pos) within each output file, as the spec requires; only per-file
    record counts (from parquet footers) reach the commit. Returns the
    number of newly deleted rows. Single writer per table."""
    import time

    meta = _table_metadata(path)
    live = _current_live_scan(spark, path, meta)
    if live is None:
        return 0
    seq = int(meta.get("last-sequence-number", 0)) + 1
    snap_id = int(meta["current-snapshot-id"]) + 1
    del_entries, n_deleted = _write_pos_delete_files(
        spark, path, live.where(condition), seq, snap_id)
    if not del_entries:
        return 0
    _commit_delete_entries(path, meta, del_entries, seq, snap_id,
                           int(time.time() * 1000))
    return n_deleted


def _current_live_scan(spark: SparkSession, path: str, meta: dict):
    """Annotated scan of the CURRENT live rows (existing deletes
    applied), or None for an empty table."""
    schema = _current_schema(meta)
    snap = next(
        (s for s in (meta.get("snapshots") or [])
         if s["snapshot-id"] == meta.get("current-snapshot-id")), None
    )
    if snap is None:
        return None
    data_files, pos_dels, eq_dels = _snapshot_files(spark, path, meta, snap)
    if not data_files:
        return None
    df = spark.read.schema(schema).parquet(*[p for p, _, _, _ in data_files])
    return _anti_join_deletes(
        spark, _annotate_scan(spark, df, data_files), meta, pos_dels, eq_dels
    )


def _write_pos_delete_files(spark, path: str, matched, seq: int,
                            snap_id: int) -> tuple[list[dict], int]:
    """Distributed position-delete write: the matched annotated rows'
    (file URI, pos) pairs go out through Spark's parquet writer,
    repartitioned by data file and spec-sorted within each output
    file; per-file footer counts build the manifest entries."""
    import shutil
    import uuid

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    pairs = matched.select(
        F.col("_df_uri").alias("file_path"), F.col("_df_pos").cast("long").alias("pos")
    )
    data_dir = os.path.join(path, "data")
    tmp = os.path.join(data_dir, f"_posdel_{uuid.uuid4()}")
    (
        pairs.repartition("file_path")
        .sortWithinPartitions("file_path", "pos")
        .write.parquet(tmp)
    )
    del_entries, n_deleted = [], 0
    for name in sorted(os.listdir(tmp)):
        if not name.endswith(".parquet"):
            continue
        nrec = pq.read_metadata(os.path.join(tmp, name)).num_rows
        if nrec == 0:
            continue
        fp = os.path.join(data_dir, f"{uuid.uuid4()}-pos-deletes.parquet")
        os.rename(os.path.join(tmp, name), fp)
        n_deleted += nrec
        del_entries.append({
            "status": 1,
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 1,
                "file_path": fp,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": nrec,
                "file_size_in_bytes": os.path.getsize(fp),
                "equality_ids": None,
            },
        })
    shutil.rmtree(tmp, ignore_errors=True)
    return del_entries, n_deleted


def _write_data_entries(spark, path: str, df, seq: int, snap_id: int,
                        part_fields: list | None = None) -> tuple[list[dict], int]:
    """Distributed data-file write returning manifest entries with
    footer record counts (zero-row parts dropped). With a partition
    spec the files land in hive-layout dirs and every entry carries
    its typed identity partition values — the same convention
    write_iceberg/append_iceberg use."""
    import pyarrow.parquet as pq

    part_fields = part_fields or []
    part_types = dict(part_fields)
    data_dir = os.path.join(path, "data")
    rel_files = _partition_write(df, data_dir, [c for c, _t in part_fields])
    name_to_id, name_to_type = _stats_name_maps(_table_metadata(path))
    entries, rows = [], 0
    for rel in rel_files:
        fp = os.path.join(data_dir, rel)
        nrec = pq.read_metadata(fp).num_rows
        if nrec == 0:
            os.remove(fp)
            continue
        rows += nrec
        entries.append({
            "status": 1,
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 0,
                "file_path": fp,
                "file_format": "PARQUET",
                "partition": _partition_values_from_rel(rel, part_types),
                "record_count": nrec,
                "file_size_in_bytes": os.path.getsize(fp),
                **_entry_stats(fp, name_to_id, name_to_type),
            },
        })
    return entries, rows


def update_where(spark: SparkSession, path: str, condition: str,
                 assignments: dict[str, str]) -> int:
    """Row-level UPDATE on an Iceberg v2 table in ONE snapshot:
    matched live rows become position deletes AND their updated copies
    land as new data files, both manifests committed atomically (the
    copy-on-write is per-ROW, like the Delta UPDATE). Expressions see
    pre-update values. Returns the updated-row count."""
    import time

    from pyspark.sql import functions as F

    meta = _table_metadata(path)
    schema = _current_schema(meta)
    names = [f.name for f in schema.fields]
    unknown = [c for c in assignments if c not in names]
    if unknown:
        raise ValueError(f"UPDATE of unknown column(s): {unknown}")
    part_fields = _spec_part_fields(meta)
    live = _current_live_scan(spark, path, meta)
    if live is None:
        return 0
    matched = live.where(condition)
    seq = int(meta.get("last-sequence-number", 0)) + 1
    snap_id = int(meta["current-snapshot-id"]) + 1
    del_entries, n = _write_pos_delete_files(spark, path, matched, seq, snap_id)
    if not del_entries:
        return 0
    updated = matched
    for col, expr in assignments.items():
        typ = next(f.dataType for f in schema.fields if f.name == col)
        updated = updated.withColumn(col, F.expr(expr).cast(typ))
    data_entries, _ = _write_data_entries(
        spark, path, updated.select(*names), seq, snap_id, part_fields)
    _commit_mixed_snapshot(path, meta, del_entries, data_entries, seq, snap_id,
                           int(time.time() * 1000), operation="overwrite",
                           part_fields=part_fields)
    return n


def merge_into(
    spark: SparkSession,
    path: str,
    source,
    on: str,
    when_matched_update: dict[str, str] | None = None,
    when_matched_delete: bool = False,
    when_not_matched_insert: dict[str, str] | None = None,
) -> dict:
    """MERGE INTO for Iceberg v2 tables — one snapshot commits the
    position deletes for matched rows plus the updated-copy/inserted
    data files (reference the sides as ``t.<col>`` / ``src.<col>``).
    A target row matched by multiple source rows raises, per the SQL
    MERGE cardinality rule. Returns {"updated", "deleted",
    "inserted"} counts."""
    import time

    from pyspark.sql import functions as F

    if when_matched_update and when_matched_delete:
        raise ValueError("choose ONE of when_matched_update / when_matched_delete")
    meta = _table_metadata(path)
    schema = _current_schema(meta)
    names = [f.name for f in schema.fields]
    part_fields = _spec_part_fields(meta)
    live = _current_live_scan(spark, path, meta)
    if live is None:
        return {"updated": 0, "deleted": 0, "inserted": 0}
    t = live.alias("t")
    s = source.alias("src")
    # persist: the joined set feeds the cardinality check, the
    # position-delete write and the update-copy write — one execution
    joined = t.join(s, F.expr(on), "inner").persist()
    if joined.groupBy("t._df_uri", "t._df_pos").count() \
             .where(F.col("count") > 1).take(1):
        joined.unpersist()
        raise ValueError(
            "MERGE: a target row matches multiple source rows (ambiguous update)")

    seq = int(meta.get("last-sequence-number", 0)) + 1
    snap_id = int(meta["current-snapshot-id"]) + 1
    del_entries, n_masked = ([], 0)
    if when_matched_update or when_matched_delete:
        del_entries, n_masked = _write_pos_delete_files(
            spark, path, joined.select("t.*"), seq, snap_id)

    data_entries, appended = [], 0
    by_type = {f.name: f.dataType for f in schema.fields}
    if when_matched_update and del_entries:
        upd = joined.select(*[
            F.expr(when_matched_update.get(c, f"t.`{c}`")).cast(by_type[c]).alias(c)
            for c in names
        ])
        e, r = _write_data_entries(spark, path, upd, seq, snap_id, part_fields)
        data_entries += e
        appended += r
    if when_not_matched_insert is not None:
        ins = s.join(t, F.expr(on), "left_anti").select(*[
            (F.expr(when_not_matched_insert[c]).cast(by_type[c])
             if c in when_not_matched_insert else F.lit(None).cast(by_type[c])).alias(c)
            for c in names
        ])
        e, r = _write_data_entries(spark, path, ins, seq, snap_id, part_fields)
        data_entries += e
        appended += r

    joined.unpersist()
    if not del_entries and not data_entries:
        return {"updated": 0, "deleted": 0, "inserted": 0}
    _commit_mixed_snapshot(path, meta, del_entries, data_entries, seq, snap_id,
                           int(time.time() * 1000), operation="overwrite",
                           part_fields=part_fields)
    n_updated = n_masked if when_matched_update else 0
    n_deleted = n_masked if when_matched_delete else 0
    return {"updated": n_updated, "deleted": n_deleted,
            "inserted": appended - n_updated}


def rollback_to_snapshot(path: str, snapshot_id: int) -> None:
    """Iceberg's rollback_to_snapshot action: point
    current-snapshot-id back at an existing snapshot in a new metadata
    version. Later snapshots stay in the log (cherry-pick/expire decide
    their fate), exactly the spec's snapshot-reference semantics."""
    meta = _table_metadata(path)
    snaps = {s["snapshot-id"] for s in meta.get("snapshots") or []}
    if snapshot_id not in snaps:
        raise ValueError(
            f"snapshot {snapshot_id} not in table history {sorted(snaps)}")
    import time

    meta["current-snapshot-id"] = snapshot_id
    meta["last-updated-ms"] = int(time.time() * 1000)
    mdir = os.path.join(path, "metadata")
    v = len([f for f in os.listdir(mdir) if f.endswith(".metadata.json")]) + 1
    with open(os.path.join(mdir, f"v{v}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(v))
