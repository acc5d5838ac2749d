"""Apache Paimon table format — native snapshot/manifest reader.

Drill reads Paimon through the paimon-java library (reference:
contrib/format-paimon/.../PaimonReadUtils.java); no such jar ships
here, so this module walks the published table layout
(https://paimon.apache.org/docs/master/concepts/spec/ — snapshots,
schemas, manifests) directly, the delta/iceberg pattern:

- ``snapshot/LATEST`` (or the highest ``snapshot-N``) names the
  current snapshot JSON: ``schemaId``, ``baseManifestList``,
  ``deltaManifestList``;
- ``schema/schema-N`` JSON carries the fields (SQL-ish type strings),
  ``partitionKeys``, ``primaryKeys`` and options (``file.format``);
- manifest lists and manifests are Avro files (decoded with our
  native OCF codec, readers/avro.py): manifest entries reconcile
  ``_KIND`` ADD(0) / DELETE(1) per data file;
- data files live under ``[<part>=<val>/]bucket-<n>/``; files are
  located by their unique names in one driver-side directory walk and
  partition values recovered from the hive-style directory names —
  no BinaryRow decoding needed for planning;
- primary-key tables store the LSM system columns (``_KEY_*``,
  ``_SEQUENCE_NUMBER``, ``_VALUE_KIND``) in the data files; the
  deduplicate merge engine replays as a window over the key columns
  keeping the max-sequence row and dropping DELETE/UPDATE_BEFORE row
  kinds (1/3) — merge-on-read as a Spark plan, no per-row Python.

The scan itself is one distributed ``spark.read`` over the active
file list, so pushdown/pruning/AQE apply; manifest decoding is
KB-scale driver metadata, as in every engine's planner.

A minimal writer (append tables, single bucket) emits the same
layout for round-trip tests; no binary reference fixtures exist for
paimon (its tests build tables through the library at run time).
"""

from __future__ import annotations

import glob as _glob
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ------------------------------------------------------------- schema


def _sql_type_to_spark(t: str) -> T.DataType:
    s = t.strip().upper()
    if s.endswith(" NOT NULL"):
        s = s[: -len(" NOT NULL")].strip()
    if s.startswith(("VARCHAR", "CHAR")):
        return T.StringType()
    if s.startswith("DECIMAL"):
        inner = s[s.find("(") + 1:s.find(")")]
        p, _, sc = inner.partition(",")
        return T.DecimalType(int(p), int(sc or 0))
    if s.startswith("TIMESTAMP"):
        return T.TimestampNTZType()
    base = {
        "INT": T.IntegerType(), "INTEGER": T.IntegerType(),
        "BIGINT": T.LongType(), "SMALLINT": T.ShortType(),
        "TINYINT": T.ByteType(), "STRING": T.StringType(),
        "DOUBLE": T.DoubleType(), "FLOAT": T.FloatType(),
        "BOOLEAN": T.BooleanType(), "DATE": T.DateType(),
        "BYTES": T.BinaryType(), "BINARY": T.BinaryType(),
    }.get(s.split("(")[0])
    if base is None:
        raise NotImplementedError(f"paimon type {t!r}")
    return base


def _spark_type_to_sql(dt: T.DataType) -> str:
    m = {
        T.IntegerType(): "INT", T.LongType(): "BIGINT",
        T.StringType(): "STRING", T.DoubleType(): "DOUBLE",
        T.FloatType(): "FLOAT", T.BooleanType(): "BOOLEAN",
        T.DateType(): "DATE", T.BinaryType(): "BYTES",
        T.ShortType(): "SMALLINT", T.ByteType(): "TINYINT",
    }
    if dt in m:
        return m[dt]
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "TIMESTAMP(6)"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision}, {dt.scale})"
    raise NotImplementedError(f"paimon write type {dt}")


def _load_schema(path: str, schema_id: int) -> dict:
    with open(os.path.join(path, "schema", f"schema-{schema_id}")) as f:
        return json.load(f)


def _latest_snapshot_id(path: str) -> int:
    snap_dir = os.path.join(path, "snapshot")
    if not os.path.isdir(snap_dir):
        raise FileNotFoundError(f"not a Paimon table (no snapshot dir): {path}")
    latest = os.path.join(snap_dir, "LATEST")
    if os.path.exists(latest):
        with open(latest) as f:
            txt = f.read().strip()
        if txt.isdigit():
            return int(txt)
    ids = [
        int(n.split("-", 1)[1])
        for n in os.listdir(snap_dir)
        if n.startswith("snapshot-") and n.split("-", 1)[1].isdigit()
    ]
    if not ids:
        raise FileNotFoundError(f"no snapshots in {snap_dir}")
    return max(ids)


def load_snapshot(path: str, snapshot_id: int | None = None) -> dict:
    sid = snapshot_id if snapshot_id is not None else _latest_snapshot_id(path)
    with open(os.path.join(path, "snapshot", f"snapshot-{sid}")) as f:
        snap = json.load(f)
    snap["_id"] = sid
    return snap


def _manifest_entries(path: str, manifest_list_name: str):
    """Yield manifest-entry dicts from every manifest in a list."""
    from drill_spark.readers.avro import decode_file

    if not manifest_list_name:
        return
    mdir = os.path.join(path, "manifest")
    with open(os.path.join(mdir, manifest_list_name), "rb") as f:
        _, metas = decode_file(f.read())
    for meta in metas:
        name = meta.get("_FILE_NAME") or meta.get("fileName")
        with open(os.path.join(mdir, name), "rb") as f:
            _, entries = decode_file(f.read())
        yield from entries


def active_files(path: str, snap: dict) -> list[dict]:
    """ADD/DELETE reconciliation over base + delta manifest lists."""
    state: dict[tuple, dict] = {}
    for src in (snap.get("baseManifestList"), snap.get("deltaManifestList")):
        for e in _manifest_entries(path, src):
            fmeta = e.get("_FILE") or {}
            key = (bytes(e.get("_PARTITION") or b""), e.get("_BUCKET", 0),
                   fmeta.get("_FILE_NAME"))
            if e.get("_KIND", 0) == 0:
                state[key] = {"bucket": e.get("_BUCKET", 0), "meta": fmeta}
            else:
                state.pop(key, None)
    return list(state.values())


# --------------------------------------------------------------- read


def read_paimon(spark: SparkSession, path: str,
                options: dict | None = None) -> DataFrame:
    opts = options or {}
    sid = opts.get("snapshot-id", opts.get("snapshot_id"))
    snap = load_snapshot(path, int(sid) if sid is not None else None)
    schema = _load_schema(path, snap.get("schemaId", 0))
    fields = schema.get("fields") or []
    part_keys = schema.get("partitionKeys") or []
    pk = schema.get("primaryKeys") or []
    fmt = (schema.get("options") or {}).get("file.format", "orc")

    files = active_files(path, snap)
    if not files:
        out_schema = T.StructType(
            [T.StructField(f["name"], _sql_type_to_spark(f["type"])) for f in fields]
        )
        return spark.createDataFrame([], out_schema)

    # one walk locates every (uuid-named) data file
    by_name: dict[str, str] = {}
    for root, dirs, names in os.walk(path):
        base = os.path.basename(root)
        if base in ("snapshot", "schema", "manifest", "index", "changelog"):
            dirs[:] = []
            continue
        for n in names:
            by_name[n] = os.path.join(root, n)
    paths = []
    for f in files:
        name = f["meta"].get("_FILE_NAME")
        if name not in by_name:
            raise FileNotFoundError(f"manifest names missing data file {name}")
        paths.append(by_name[name])

    reader = spark.read.format(fmt)
    df = reader.load(paths)

    # hive-style partition values from the directory names
    if part_keys:
        df = df.withColumn("__path", F.input_file_name())
        for k in part_keys:
            typ = next(
                (_sql_type_to_spark(f["type"]) for f in fields if f["name"] == k),
                T.StringType(),
            )
            df = df.withColumn(
                k, F.regexp_extract(F.col("__path"), f"/{k}=([^/]+)/", 1).cast(typ)
            )
        df = df.drop("__path")

    value_cols = [f["name"] for f in fields]
    if pk:
        # deduplicate merge engine: keep the max-sequence row per key,
        # drop DELETE (3) and UPDATE_BEFORE (1) row kinds
        from pyspark.sql import Window

        seq = "_SEQUENCE_NUMBER"
        kind = "_VALUE_KIND"
        if seq not in df.columns:
            raise NotImplementedError("paimon PK table without LSM system columns")
        w = Window.partitionBy(*pk).orderBy(F.col(seq).desc())
        df = (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .where(~F.col(kind).isin(1, 3))
            .drop("__rn")
        )
    return df.select(*value_cols)


# -------------------------------------------------------------- write


_MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "ManifestEntry", "fields": [
        {"name": "_KIND", "type": "int"},
        {"name": "_PARTITION", "type": "bytes"},
        {"name": "_BUCKET", "type": "int"},
        {"name": "_TOTAL_BUCKETS", "type": "int"},
        {"name": "_FILE", "type": {
            "type": "record", "name": "DataFileMeta", "fields": [
                {"name": "_FILE_NAME", "type": "string"},
                {"name": "_FILE_SIZE", "type": "long"},
                {"name": "_ROW_COUNT", "type": "long"},
                {"name": "_MIN_SEQUENCE_NUMBER", "type": "long"},
                {"name": "_MAX_SEQUENCE_NUMBER", "type": "long"},
                {"name": "_SCHEMA_ID", "type": "long"},
                {"name": "_LEVEL", "type": "int"},
                {"name": "_EXTRA_FILES", "type": {"type": "array", "items": "string"}},
                {"name": "_CREATION_TIME", "type": "long"},
            ]}},
    ],
}

_MANIFEST_META_SCHEMA = {
    "type": "record", "name": "ManifestFileMeta", "fields": [
        {"name": "_FILE_NAME", "type": "string"},
        {"name": "_FILE_SIZE", "type": "long"},
        {"name": "_NUM_ADDED_FILES", "type": "long"},
        {"name": "_NUM_DELETED_FILES", "type": "long"},
        {"name": "_SCHEMA_ID", "type": "long"},
    ],
}


def write_paimon(df: DataFrame, path: str, mode: str = "error",
                 primary_keys: list[str] | None = None,
                 row_kind_col: str | None = None) -> None:
    """Write an unpartitioned single-bucket table (parquet data) in the
    published layout. Without ``primary_keys``: an append table (CTAS
    path). With ``primary_keys``: a PRIMARY-KEY table — every commit
    carries the LSM system columns (``_KEY_<col>``,
    ``_SEQUENCE_NUMBER`` = the commit's snapshot id, ``_VALUE_KIND``),
    so later commits upsert: the reader's deduplicate merge keeps the
    max-sequence row per key and drops DELETE kinds. ``row_kind_col``
    names an input column whose 'D'/'-D' values mark deletions (its
    column is excluded from the value schema). Each batch must be
    key-unique — sequence numbers are per-commit, so duplicate keys in
    one batch would merge nondeterministically (raises instead)."""
    from drill_spark.readers.avro import encode_file

    exists = os.path.isdir(os.path.join(path, "snapshot"))
    if exists and mode == "error":
        raise ValueError(f"Paimon table already exists at {path}")
    prev_id = _latest_snapshot_id(path) if exists else 0
    new_id = prev_id + 1
    value_cols = [c for c in df.columns if c != row_kind_col]
    if exists:
        schema = _load_schema(path, load_snapshot(path).get("schemaId", 0))
        schema_id = schema["id"]
        pk = schema.get("primaryKeys") or []
        if primary_keys is not None and list(primary_keys) != pk:
            raise ValueError(f"table primary keys are {pk}, got {primary_keys}")
    else:
        pk = list(primary_keys or [])
        unknown = [c for c in pk if c not in value_cols]
        if unknown:
            raise ValueError(f"primary key column(s) not in data: {unknown}")
        schema_id = 0
        schema = {
            "version": 3, "id": 0,
            "fields": [
                {"id": i, "name": f.name, "type": _spark_type_to_sql(f.dataType)}
                for i, f in enumerate(df.schema.fields) if f.name in value_cols
            ],
            "highestFieldId": len(value_cols) - 1,
            "partitionKeys": [], "primaryKeys": pk,
            "options": {"file.format": "parquet", "bucket": "1"},
            "timeMillis": int(time.time() * 1000),
        }
        os.makedirs(os.path.join(path, "schema"), exist_ok=True)
        with open(os.path.join(path, "schema", f"schema-{schema_id}"), "w") as f:
            json.dump(schema, f)

    seq = new_id  # per-commit sequence: later commits win the merge
    if pk:
        if df.groupBy(*pk).count().where(F.col("count") > 1).take(1):
            raise ValueError("paimon PK write: batch has duplicate primary keys")
        out = df
        if row_kind_col:
            out = out.withColumn(
                "_VALUE_KIND",
                F.when(F.upper(F.col(row_kind_col)).isin("D", "-D", "DELETE"),
                       F.lit(3)).otherwise(F.lit(0)).cast("int"),
            ).drop(row_kind_col)
        else:
            out = out.withColumn("_VALUE_KIND", F.lit(0).cast("int"))
        out = out.withColumn("_SEQUENCE_NUMBER", F.lit(seq).cast("long"))
        for c in pk:
            out = out.withColumn(f"_KEY_{c}", F.col(c))
        df = out.select(
            *[f"_KEY_{c}" for c in pk], "_SEQUENCE_NUMBER", "_VALUE_KIND",
            *value_cols,
        )
    elif row_kind_col:
        raise ValueError("row_kind_col requires primary_keys")

    bucket_dir = os.path.join(path, "bucket-0")
    os.makedirs(bucket_dir, exist_ok=True)
    staging = os.path.join(path, f".staging-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    now = int(time.time() * 1000)
    new_files = []
    for p in sorted(_glob.glob(os.path.join(staging, "*.parquet"))):
        name = f"data-{uuid.uuid4()}-0.parquet"
        dest = os.path.join(bucket_dir, name)
        os.replace(p, dest)
        new_files.append((name, os.path.getsize(dest)))
    import shutil

    shutil.rmtree(staging, ignore_errors=True)

    os.makedirs(os.path.join(path, "manifest"), exist_ok=True)
    entries = [
        {"_KIND": 0, "_PARTITION": b"", "_BUCKET": 0, "_TOTAL_BUCKETS": 1,
         "_FILE": {"_FILE_NAME": name, "_FILE_SIZE": size, "_ROW_COUNT": -1,
                   "_MIN_SEQUENCE_NUMBER": seq, "_MAX_SEQUENCE_NUMBER": seq,
                   "_SCHEMA_ID": schema_id, "_LEVEL": 0, "_EXTRA_FILES": [],
                   "_CREATION_TIME": now}}
        for name, size in new_files
    ]
    mf_name = f"manifest-{uuid.uuid4()}-0.avro"
    blob = encode_file(_MANIFEST_ENTRY_SCHEMA, entries)
    with open(os.path.join(path, "manifest", mf_name), "wb") as f:
        f.write(blob)
    ml_name = f"manifest-list-{uuid.uuid4()}-0.avro"
    ml_blob = encode_file(_MANIFEST_META_SCHEMA, [{
        "_FILE_NAME": mf_name, "_FILE_SIZE": len(blob),
        "_NUM_ADDED_FILES": len(entries), "_NUM_DELETED_FILES": 0,
        "_SCHEMA_ID": schema_id,
    }])
    with open(os.path.join(path, "manifest", ml_name), "wb") as f:
        f.write(ml_blob)

    base_list = load_snapshot(path).get("baseManifestList") if exists else None
    snap = {
        "version": 3, "id": new_id, "schemaId": schema_id,
        "baseManifestList": base_list,
        "deltaManifestList": ml_name,
        "changelogManifestList": None,
        "commitUser": "drill_spark", "commitIdentifier": new_id,
        "commitKind": "APPEND", "timeMillis": now,
        "logOffsets": {},
    }
    # merge the previous delta into base for snapshot N>1: simplest
    # conformant choice — write base as the UNION list of all deltas
    if exists:
        prev = load_snapshot(path, prev_id)
        merged = []
        from drill_spark.readers.avro import decode_file

        for src in (prev.get("baseManifestList"), prev.get("deltaManifestList")):
            if not src:
                continue
            with open(os.path.join(path, "manifest", src), "rb") as f:
                _, metas = decode_file(f.read())
            merged.extend(metas)
        base_name = f"manifest-list-{uuid.uuid4()}-0.avro"
        base_blob = encode_file(_MANIFEST_META_SCHEMA, [
            {k: m.get(k) for k in ("_FILE_NAME", "_FILE_SIZE", "_NUM_ADDED_FILES",
                                   "_NUM_DELETED_FILES", "_SCHEMA_ID")}
            for m in merged
        ])
        with open(os.path.join(path, "manifest", base_name), "wb") as f:
            f.write(base_blob)
        snap["baseManifestList"] = base_name

    os.makedirs(os.path.join(path, "snapshot"), exist_ok=True)
    with open(os.path.join(path, "snapshot", f"snapshot-{new_id}"), "w") as f:
        json.dump(snap, f)
    with open(os.path.join(path, "snapshot", "LATEST"), "w") as f:
        f.write(str(new_id))


def _pk_dml(spark: SparkSession, path: str, condition: str,
            assignments: dict[str, str] | None) -> int:
    """DELETE / UPDATE on a Paimon primary-key table, expressed the
    LSM-native way: matched rows become a new commit of delete markers
    (row kind D) or updated copies (row kind I), and the reader's
    max-sequence merge applies them — no file is rewritten, which is
    exactly how PK tables absorb churn at scale."""
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


def delete_where(spark: SparkSession, path: str, condition: str) -> int:
    """DELETE FROM a primary-key table; returns the rows deleted."""
    return _pk_dml(spark, path, condition, None)


def update_where(spark: SparkSession, path: str, condition: str,
                 assignments: dict[str, str]) -> int:
    """UPDATE a primary-key table; returns the rows updated."""
    return _pk_dml(spark, path, condition, assignments)
