"""Structured Streaming pipelines over the events fixture.

Net-new capability (SURVEY §2.11): the reference has NO streaming
operators — Drill's StreamingAggregate is sort-based batch aggregation
(physical/config/StreamingAggregate.java), and its Kafka plugin reads
topics as batch tables (contrib/storage-kafka/). Here streams are
first-class via Spark Structured Streaming: watermarks, tumbling /
sliding / session windows, late-data policy, and stateful dedup.

Batch/stream parity: every windowed aggregation here has a batch twin
in relops.py (op_time_window_tumbling / op_session_window) checked
against the DuckDB oracle — the streaming tests assert the streaming
result matches the batch result on the same data (the Dataflow-model
property that makes backfills trustworthy).

Scale notes: state store size is bounded by the watermark horizon;
dropDuplicatesWithinWatermark keeps the dedup state finite; sinks go
through foreachBatch for exactly-once parquet appends.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drill_spark.session import local_frame


_STREAM_EPOCH_BASE = 1_000_000_000  # streaming batch-id namespace


def _fan_batch(df: DataFrame) -> DataFrame:
    """Decouple a micro-batch's parallelism from the source file layout.

    A foreachBatch frame exposes no leaf files (``inputFiles()`` is
    empty), so ops/pipeline._spread — which fans narrow single-file
    scans across the cluster — cannot see that a one-file trigger
    collapsed the whole batch onto a single task; every CPU-bound
    per-row stage downstream (LID, tokenization, gram explode) then
    runs serially no matter how many cores the cluster has. HERE we
    know the frame is a source micro-batch, so one round-robin
    exchange before that work is the standard ingest-decoupling move:
    the batch's raw bytes move exactly once, and the per-row stage
    that dominates these operators runs at cluster parallelism.
    Apply it only in commits whose per-row work is heavy (measured) —
    for cheap per-row stages the exchange floor costs more than it
    saves. Results are partitioning-independent: every consumer below
    aggregates or joins on content keys.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)

# schema peek per events fixture file — the batch read exists only to
# learn the ts physical type, so probe-many shares one peek
_EVENT_SCHEMA_CACHE: dict[str, object] = {}


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a stream (files source = replayable log).

    The fixture's ts physical type varies across driver versions
    (INT64 TIMESTAMP(NANOS) read as raw nanos under nanosAsLong, vs
    plain TIMESTAMP(MICROS)); peek at the batch-read schema and
    normalize to TimestampType either way.
    """
    from drill_spark.session import prepare_session

    prepare_session(spark)
    fpath = os.path.join(sf_dir, "events.parquet")
    raw_schema = _EVENT_SCHEMA_CACHE.get(fpath)
    if raw_schema is None:
        raw_schema = spark.read.parquet(fpath).schema
        _EVENT_SCHEMA_CACHE[fpath] = raw_schema
    # the file stream source requires a directory; select the single
    # fixture file with a glob filter
    raw = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if dict(raw.dtypes).get("ts") == "bigint":
        return raw.withColumn("ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp)"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, width: str = "6 hours", watermark: str = "1 hour") -> DataFrame:
    """Tumbling-window counts with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_v"))
        .select(
            F.col("window.start").alias("ws"),
            "event_type",
            "n",
            "sum_v",
        )
    )


def sliding_rates(events: DataFrame, width: str = "6 hours", slide: str = "3 hours") -> DataFrame:
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width, slide))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )


def session_counts(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Session windows per user (gap-based)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful exactly-once dedup on event_id within the watermark
    horizon (state stays finite — the 100 TB-friendly dedup)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + value total, emitted on every update.

    This is the engine's escape hatch for stateful semantics Spark's
    built-in windows can't express (Drill has NO analog — its execution
    model is batch-only). State is one small row per user key, bounded
    by the key cardinality; Arrow-batched, not per-row Python.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n bigint, total double"
    state_schema = "n bigint, total double"

    def update_totals(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, round(total, 6)))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [round(total, 2)]})

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_totals, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def run_to_completion(stream_df: DataFrame, name: str,
                      output_mode: str = "append",
                      state_partitions: int = 8) -> DataFrame:
    """Drive a streaming query over the finite fixture with the
    availableNow trigger and return the result as a DataFrame.

    Use output_mode='complete' for windowed aggregations when the final
    (not-yet-watermark-closed) windows must be included — in append mode
    a finite source never closes its tail windows.

    ``state_partitions`` bounds the shuffle-partition count for the
    run: every state partition is a separate HDFS-backed state-store
    instance writing delta/commit files per micro-batch, and at
    finite-fixture scale 32 instances are pure per-file fixed cost
    (measured ~2x the whole run). Results are partition-count
    invariant; a real deployment sizes this to its state volume.
    """
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions and int(prev) > state_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def stream_static_enrich(events: DataFrame, dim: DataFrame, on: str = "user_id") -> DataFrame:
    """Stream-static join: enrich each event with a dimension row.

    The static side is re-broadcast per micro-batch (no state store at
    all), so this scales with the dim size only — the canonical pattern
    for joining a 100 TB event stream to a small reference table.
    """
    return events.join(F.broadcast(dim), on, "left")


def stream_stream_join(
    events: DataFrame,
    left_type: str = "view",
    right_type: str = "purchase",
    horizon: str = "12 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    pair each `left_type` event with the same user's `right_type`
    events that follow within `horizon`.

    Both sides carry a watermark and the join condition bounds event
    time on both sides, so Spark can expire join state — without the
    time bound the state store would grow forever. This is the
    attribution-join shape (view -> purchase within N hours).
    """
    a = (
        events.where(F.col("event_type") == left_type)
        .select(F.col("user_id"), F.col("event_id").alias("a_id"), F.col("ts").alias("a_ts"))
        .withWatermark("a_ts", watermark)
    )
    b = (
        events.where(F.col("event_type") == right_type)
        .select(F.col("user_id").alias("b_user"), F.col("event_id").alias("b_id"), F.col("ts").alias("b_ts"))
        .withWatermark("b_ts", watermark)
    )
    return a.join(
        b,
        F.expr(
            f"user_id = b_user AND b_ts >= a_ts AND b_ts <= a_ts + interval {horizon}"
        ),
    ).select("user_id", "a_id", "a_ts", "b_id", "b_ts")


def stream_to_delta(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    app_id: str = "drill_spark_stream",
    partition_by: list[str] | None = None,
    trigger: dict | None = None,
):
    """Exactly-once streaming sink into a Delta table.

    The canonical lakehouse landing pattern: ``foreachBatch`` + Delta
    transaction identifiers (PROTOCOL.md "Transaction Identifiers").
    Each micro-batch commits an append stamped ``txn(appId, batchId)``;
    on restart/replay the sink first consults the snapshot's latest txn
    version for ``app_id`` and SKIPS any batch already committed — the
    write is idempotent even though Spark's checkpoint only guarantees
    at-least-once delivery to foreachBatch. State lives in two places
    that agree by construction: Spark's streaming checkpoint (source
    offsets) and the Delta log (committed batch ids).

    Returns the StreamingQuery. The default trigger is
    ``{"availableNow": True}`` (finite backfill); pass e.g.
    ``trigger={"processingTime": "10 seconds"}`` for continuous
    ingestion.
    """
    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        commit_batch_idempotent(batch_df, table_path, app_id, batch_id, partition_by)

    return (
        stream_df.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger if trigger is not None else {"availableNow": True}))
        .start()
    )


def commit_batch_idempotent(
    batch_df: DataFrame,
    table_path: str,
    app_id: str,
    batch_id: int,
    partition_by: list[str] | None = None,
) -> bool:
    """One idempotent micro-batch commit: append stamped with
    txn(app_id, batch_id); a batch id at or below the table's last
    committed version for app_id is a no-op. Returns True when data was
    written, False when the replay guard skipped it."""
    import os as _os

    from drill_spark.readers.delta import load_snapshot, write_delta

    mode = "append" if _os.path.isdir(_os.path.join(table_path, "_delta_log")) else "error"
    if mode == "append":
        last = load_snapshot(batch_df.sparkSession, table_path).txns.get(app_id, -1)
        if batch_id <= last:
            return False  # replayed micro-batch: already in the table
    write_delta(batch_df, table_path, partition_by=partition_by,
                mode=mode, txn=(app_id, batch_id))
    return True


def stream_to_iceberg(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    app_id: str = "drill_spark_stream",
    trigger: dict | None = None,
):
    """Exactly-once streaming sink into an Iceberg table — the
    counterpart of stream_to_delta, using Iceberg's own idempotence
    convention: each micro-batch appends a snapshot whose SUMMARY
    carries (streaming-app-id, streaming-batch-id), and on replay the
    sink skips any batch id at or below the latest committed one for
    this app (what Iceberg's Spark streaming writer does with the
    query id + epoch id in the snapshot summary)."""
    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        commit_iceberg_batch_idempotent(batch_df, table_path, app_id, batch_id)

    return (
        stream_df.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger if trigger is not None else {"availableNow": True}))
        .start()
    )


def commit_iceberg_batch_idempotent(
    batch_df: DataFrame,
    table_path: str,
    app_id: str,
    batch_id: int,
) -> bool:
    """One idempotent Iceberg micro-batch commit. Returns True when
    data was written, False when the replay guard skipped it."""
    import os as _os

    from drill_spark.readers.iceberg import (
        _table_metadata,
        append_iceberg,
        write_iceberg,
    )

    stamp = {"streaming-app-id": app_id, "streaming-batch-id": str(batch_id)}
    if not _os.path.isdir(_os.path.join(table_path, "metadata")):
        write_iceberg(batch_df, table_path, summary_extra=stamp)
        return True
    # Replays are detected ONLY by this app's stamp in a snapshot
    # summary — a table that pre-exists from CTAS/write_iceberg has no
    # stamp and must still receive batch 0 (as an append).
    last = -1
    for snap in _table_metadata(table_path).get("snapshots") or []:
        summ = snap.get("summary") or {}
        if summ.get("streaming-app-id") == app_id:
            last = max(last, int(summ.get("streaming-batch-id", -1)))
    if batch_id <= last:
        return False
    append_iceberg(batch_df, table_path, summary_extra=stamp)
    return True


def stream_incremental_dedup(
    docs_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    app_id: str = "drill_spark_stream_dedup",
    trigger: dict | None = None,
):
    """Streaming ingest dedup — the continuously-arriving twin of
    ops/dedup.incremental_dedup: every micro-batch dedups within
    itself AND against every previously ingested batch via the
    persistent Delta digest store (16 bytes/doc — prior text is never
    rescanned), and the surviving documents land in ``out_path``
    exactly-once.

    Exactly-once end to end with the streaming epoch as the single
    batch identity, stamped into BOTH Delta logs: incremental_dedup's
    store commit carries the per-batch txn ``<app_id>.store#batch<N>``
    (N = the epoch plus a streaming offset; ``readers/delta.BatchLedger``)
    — a replayed epoch returns its ORIGINAL survivors without growing
    the store — and the output append carries txn(app_id, epoch) via
    commit_batch_idempotent, so at-least-once foreachBatch delivery
    still writes each survivor set once.

    Scale shape per micro-batch: one digest shuffle within the batch +
    the adaptive bloom/broadcast anti join against the store (sized by
    the DIGEST count, not corpus text) — identical to the batch
    operator, which is the point: backfill (batch) and ingest
    (streaming) share one dedup semantics and one store.
    """
    from drill_spark.ops.dedup import incremental_dedup

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        # the stream's OWN txn appId + a high epoch namespace for the
        # store rows: a backfill-built store has batch txns 0..N under
        # the batch appId, and sharing them would make a fresh stream's
        # epoch 0 read as a replay and silently drop new documents
        survivors = incremental_dedup(
            batch_df, store_path, id_col=id_col, text_col=text_col,
            batch_id=_STREAM_EPOCH_BASE + epoch_id,
            txn_app_id=f"{app_id}.store",
        )
        commit_batch_idempotent(survivors, out_path, app_id, epoch_id)

    return (
        docs_stream.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger if trigger is not None else {"availableNow": True}))
        .start()
    )


def stream_incremental_near_dedup(
    docs_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sim_threshold: float = 0.7,
    app_id: str = "drill_spark_stream_near_dedup",
    trigger: dict | None = None,
):
    """Streaming NEAR-dup ingest dedup — the continuously-arriving twin
    of ops/dedup.incremental_near_dedup: every micro-batch drops
    documents whose MinHash signature agrees with anything previously
    ingested (>= ``sim_threshold`` component agreement, the unbiased
    Jaccard estimator) via the persistent band/signature store; prior
    batches' text is never rescanned. Survivors land in ``out_path``
    exactly-once: the streaming epoch stamps both the store commit
    (per-batch txn ``<app_id>.store#batch<N>``) and the output append
    (txn ``app_id``), so at-least-once foreachBatch delivery still
    writes each survivor set once — the same two-log contract as the
    exact-dup twin, making backfill and ingest share ONE near-dedup
    semantics and one store.
    """
    from drill_spark.ops.dedup import incremental_near_dedup

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        # own txn appId + high epoch namespace — see the exact twin
        survivors = incremental_near_dedup(
            batch_df, store_path, id_col=id_col, text_col=text_col,
            sim_threshold=sim_threshold,
            batch_id=_STREAM_EPOCH_BASE + epoch_id,
            txn_app_id=f"{app_id}.store",
        )
        commit_batch_idempotent(survivors, out_path, app_id, epoch_id)

    return (
        docs_stream.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger if trigger is not None else {"availableNow": True}))
        .start()
    )


def stream_incremental_substr(
    docs_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    app_id: str = "drill_spark_stream_substr",
    trigger: dict | None = None,
):
    """Streaming ExactSubstr ingest dedup — the continuously-arriving
    twin of ops/substr.incremental_substr_dedup: every micro-batch's
    documents are cleaned of L-token spans seen in ANY earlier batch
    (via the persistent span-digest store) plus within-batch
    keep-lowest, and the CLEANED rows (id, n_tokens, n_removed,
    clean_text) land in ``out_path`` exactly-once. Prior batches' text
    is never rescanned; the streamed protocol is deterministic end to
    end and shares the batch operator's closed-form oracle — the same
    two-log (store txn + output txn) contract as the exact/near/setsim
    ingest twins, so backfill and ingest share ONE substring-dedup
    semantics and one store.
    """
    from drill_spark.ops.substr import incremental_substr_dedup

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        cleaned = incremental_substr_dedup(
            batch_df, store_path, id_col=id_col, text_col=text_col,
            min_tokens=min_tokens,
            batch_id=_STREAM_EPOCH_BASE + epoch_id,
            txn_app_id=f"{app_id}.store",
        )
        commit_batch_idempotent(cleaned, out_path, app_id, epoch_id)

    return (
        docs_stream.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger if trigger is not None else {"availableNow": True}))
        .start()
    )


def stream_quality_auc(
    scored_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    label_col: str = "y",
    score_col: str = "score",
    score_decimals: int = 6,
    app_id: str = "drill_spark_stream_auc",
    trigger: dict | None = None,
):
    """Streaming classifier monitoring — the continuously-arriving twin
    of ops/mlmetrics.binary_auc: every micro-batch of labeled scores
    folds its binned (pos, neg) counts into a persistent bin-count
    store (AUC's sufficient statistic — the midrank Mann-Whitney sum
    is a function of per-bin counts alone, so the fold is exactly
    associative), and the RUNNING (batch_id, n_pos, n_neg, auc) lands
    in ``out_path`` exactly-once per micro-batch. This is how a live
    quality-gate watches its scorer drift without ever rescanning
    history; the final row equals the batch operator on the union of
    all batches, so the streamed protocol hash-checks against the
    same closed-form oracle.

    Store: (b, pos, neg, batch_id) — bounded by 10^score_decimals
    bins regardless of stream volume. Two-log txn contract (store +
    output) like every ingest twin here.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from drill_spark.readers.delta import load_snapshot, read_delta, write_delta

    scale = 10 ** int(score_decimals)

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        import os as _os

        spark = batch_df.sparkSession
        bid = _STREAM_EPOCH_BASE + epoch_id
        g = (
            batch_df.select(
                F.floor(F.col(score_col) * scale).cast("long").alias("b"),
                F.col(label_col).cast("long").alias("y"))
            .groupBy("b")
            .agg(F.sum("y").alias("pos"),
                 (F.count("*") - F.sum("y")).alias("neg"))
            .withColumn("batch_id", F.lit(int(bid)))
        )
        store_app = f"{app_id}.store"
        exists = _os.path.isdir(_os.path.join(store_path, "_delta_log"))
        replay = False
        if exists:
            last = load_snapshot(spark, store_path).txns.get(store_app, -1)
            replay = bid <= last
        if not replay:
            write_delta(g, store_path,
                        mode="append" if exists else "error",
                        txn=(store_app, int(bid)))
        merged = (read_delta(spark, store_path)
                  .where(F.col("batch_id") <= int(bid))
                  .groupBy("b")
                  .agg(F.sum("pos").alias("pos"), F.sum("neg").alias("neg")))
        w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
        row = (
            merged.withColumn(
                "neg_below", F.coalesce(F.sum("neg").over(w), F.lit(0)))
            .agg(
                F.sum("pos").cast("long").alias("n_pos"),
                F.sum("neg").cast("long").alias("n_neg"),
                # single-class prefix (plausible for the first
                # micro-batches) surfaces NULL, matching binary_auc
                F.when(
                    (F.sum("pos") > 0) & (F.sum("neg") > 0),
                    F.floor(
                        F.sum(F.col("pos") * (2 * F.col("neg_below")
                                              + F.col("neg")))
                        / (2.0 * F.sum("pos") * F.sum("neg")) * 1e6) / 1e6,
                ).alias("auc"),
            )
            .withColumn("batch_id", F.lit(int(epoch_id)))
            .select("batch_id", "n_pos", "n_neg", "auc")
        )
        commit_batch_idempotent(row, out_path, app_id, epoch_id)

    return (
        scored_stream.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger if trigger is not None else {"availableNow": True}))
        .start()
    )


def stream_lang_mix(
    docs_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    baseline: dict[str, float],
    text_col: str = "text",
    app_id: str = "drill_spark_stream_langmix",
    trigger: dict | None = None,
):
    """Streaming language-mix drift monitoring — the
    continuously-arriving twin of ops/langid.classify_lang feeding a
    mixture dashboard: every micro-batch classifies its documents
    with the rank-order n-gram LID and folds per-language document
    counts (the mix's sufficient statistic — counts are exactly
    associative) into a persistent store; the RUNNING per-language
    share and the L1 distance of the running mix from a target
    ``baseline`` land in ``out_path`` exactly-once per micro-batch.
    This is how an ingest pipeline notices its language balance
    drifting (a crawl source going dark, a spam flood in one
    language) without ever rescanning history.

    All drift arithmetic is integer ppm: share = floor(n * 10^6 /
    total), baseline weights are frozen to ppm at wiring time, and
    l1_drift sums |share_ppm - base_ppm| over the UNION of observed
    and baseline languages (an unobserved baseline language
    contributes its full target weight — silence is drift). Output
    rows: (batch_id, pred_lang, n_docs, share, l1_drift), one per
    union language, l1_drift repeated per batch.

    Store: (pred_lang, n, batch_id) — bounded by the language space
    regardless of stream volume. Two-log txn contract (store +
    output) like every ingest twin here.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from drill_spark.ops.langid import classify_lang
    from drill_spark.readers.delta import load_snapshot, read_delta, write_delta

    base_ppm = [(lang, int(round(w * 1_000_000)))
                for lang, w in sorted(baseline.items())]

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        import os as _os

        spark = batch_df.sparkSession
        bid = _STREAM_EPOCH_BASE + epoch_id
        g = (
            classify_lang(_fan_batch(batch_df), text_col)
            .groupBy("pred_lang")
            .agg(F.count("*").cast("long").alias("n"))
            .withColumn("batch_id", F.lit(int(bid)))
        )
        store_app = f"{app_id}.store"
        exists = _os.path.isdir(_os.path.join(store_path, "_delta_log"))
        replay = False
        if exists:
            last = load_snapshot(spark, store_path).txns.get(store_app, -1)
            replay = bid <= last
        if not replay:
            write_delta(g, store_path,
                        mode="append" if exists else "error",
                        txn=(store_app, int(bid)))
        merged = (read_delta(spark, store_path)
                  .where(F.col("batch_id") <= int(bid))
                  .groupBy("pred_lang")
                  .agg(F.sum("n").cast("long").alias("n_docs")))
        base = local_frame(spark, base_ppm, "pred_lang string, base_ppm long")
        # total and l1-drift as UNPARTITIONED windows over the bounded
        # (language-space) mix table: the previous two
        # crossJoin(broadcast(agg)) branches each ran their own
        # broadcast-build job that re-executed the merged subtree —
        # 5 executions of the store scan+agg per micro-batch, each a
        # scheduler-floor-bound jobling. One global window exchange on
        # a <=|languages| row table replaces them; arithmetic is
        # unchanged (sum of coalesced n_docs == sum over merged).
        w = Window.partitionBy()
        mix = (
            merged.join(base, "pred_lang", "full_outer")
            .select(
                "pred_lang",
                F.coalesce(F.col("n_docs"), F.lit(0)).alias("n_docs"),
                F.coalesce(F.col("base_ppm"), F.lit(0)).alias("base_ppm"),
            )
            .withColumn("__t", F.sum("n_docs").over(w))
            .withColumn(
                "share_ppm",
                F.floor(F.col("n_docs") * 1000000 / F.col("__t"))
                .cast("long"),
            )
        )
        row = (
            mix.withColumn(
                "__d",
                F.sum(F.abs(F.col("share_ppm") - F.col("base_ppm"))).over(w))
            .select(
                F.lit(int(epoch_id)).alias("batch_id"),
                "pred_lang",
                "n_docs",
                (F.col("share_ppm") / 1000000.0).alias("share"),
                (F.col("__d") / 1000000.0).alias("l1_drift"),
            )
        )
        commit_batch_idempotent(row, out_path, app_id, epoch_id)

    return (
        docs_stream.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger if trigger is not None else {"availableNow": True}))
        .start()
    )


def stream_incremental_setsim(
    docs_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    max_candidates_per_doc: int | None = None,
    app_id: str = "drill_spark_stream_setsim",
    trigger: dict | None = None,
):
    """Streaming EXACT set-similarity ingest dedup — the
    continuously-arriving twin of ops/fuzzy.incremental_setsim, and
    the exact sibling of stream_incremental_near_dedup: every
    micro-batch drops documents whose token-set Jaccard with anything
    previously ingested is >= threshold, via the persistent postings
    store; prior batches' text is never rescanned, and there is no
    MinHash estimation error, so the streamed protocol is
    deterministic and shares the batch operator's closed-form oracle.
    Survivors land in ``out_path`` exactly-once: the streaming epoch
    stamps both the store commit (txn ``app_id``.store) and the output
    append (txn ``app_id``) — the same two-log contract as the other
    ingest-dedup twins, making backfill and ingest share ONE exact
    near-dup semantics and one store.
    """
    from drill_spark.ops.fuzzy import incremental_setsim

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        survivors = incremental_setsim(
            batch_df, store_path, id_col=id_col, text_col=text_col,
            threshold=threshold,
            max_candidates_per_doc=max_candidates_per_doc,
            batch_id=_STREAM_EPOCH_BASE + epoch_id,
            txn_app_id=f"{app_id}.store",
        )
        commit_batch_idempotent(survivors, out_path, app_id, epoch_id)

    return (
        docs_stream.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger if trigger is not None else {"availableNow": True}))
        .start()
    )


def stream_heavy_hitters(events: DataFrame, col: str, k: int = 16,
                         n_buckets: int = 8) -> DataFrame:
    """Streaming Misra-Gries candidate tracking — the stateful twin of
    ops/sketch.py::heavy_hitters pass 1. Keys hash into ``n_buckets``
    state groups; each group's state is one k-counter MG summary of
    its sub-stream (MG is an arrival-order-proof streaming algorithm,
    so carrying the counters across micro-batches IS a valid MG run
    over the concatenated stream). Any item with global count >
    n/(k+1) survives in its bucket's summary regardless of order or
    batching — the candidate superset guarantee the exact verify pass
    relies on.

    State per bucket: <= k (key, count) pairs + the bucket row count —
    bounded by k * n_buckets, independent of key cardinality. Emits
    (bucket, keys, counts, n_seen) in update mode; the latest row per
    bucket is the current summary.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = ("bucket int, keys array<string>, counts array<bigint>, "
                  "n_seen bigint")
    state_schema = "keys array<string>, counts array<bigint>, n bigint"

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            keys, counts, n = state.get
            counters = dict(zip(keys, counts))
        else:
            counters, n = {}, 0
        for pdf in pdf_iter:
            for v in pdf[col]:
                if v is None:
                    continue
                n += 1
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k:
                    counters[v] = 1
                else:
                    dead = []
                    for c in counters:  # decrement-all (the MG step)
                        counters[c] -= 1
                        if counters[c] == 0:
                            dead.append(c)
                    for c in dead:
                        del counters[c]
        ks, cs = list(counters.keys()), [counters[c] for c in counters]
        state.update((ks, cs, n))
        yield pd.DataFrame({"bucket": [key[0]], "keys": [ks],
                            "counts": [cs], "n_seen": [n]})

    src = events.select(
        F.col(col).cast("string").alias(col),
        F.pmod(
            F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 6),
                   16, 10).cast("long"),
            F.lit(n_buckets),
        ).cast("int").alias("bucket"),
    )
    return src.groupBy("bucket").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


def verified_stream_heavy_hitters(spark, stream_table: DataFrame,
                                  batch: DataFrame, col: str,
                                  k: int = 16) -> DataFrame:
    """Exact verify over the stream's final candidate summaries: join
    the candidate keys (tiny, broadcast) back to the batch table for
    exact counts and keep count * (k+1) > n — identical output to the
    batch heavy_hitters regardless of stream arrival order, which is
    what makes the streaming query oracle-backed."""
    from pyspark.sql import Window

    latest = (
        stream_table.withColumn(
            "__rn", F.row_number().over(
                Window.partitionBy("bucket").orderBy(F.desc("n_seen"))))
        .where(F.col("__rn") == 1)
    )
    candidates = (
        latest.select(F.explode("keys").alias(col)).distinct()
    )
    src = batch.select(F.col(col).cast("string").alias(col)).where(
        F.col(col).isNotNull())
    total = src.count()
    return (
        src.join(F.broadcast(candidates), col)
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") * (k + 1) > F.lit(total))
    )


def stream_kmv_distinct(stream: DataFrame, seg_col: str, item_col: str,
                        k: int = 64) -> DataFrame:
    """Streaming KMV distinct-count sketches — the stateful twin of
    ops/sketch.py::kmv_distinct. Per-segment state is the k smallest
    distinct 60-bit md5 hashes seen so far; the KMV merge is
    associative AND commutative, so the final sketch is bit-identical
    to the batch sketch no matter how the stream is batched or ordered
    — which lets the streaming query share the batch oracle verbatim.

    Emits (segment, n_hashes, theta_hash, n_seen) every update; the
    row with the highest n_seen per segment is the current sketch.
    The ESTIMATE is deliberately not computed here: latest_kmv_sketches
    derives it JVM-side with the same F.round expression the batch twin
    uses (Python round() is half-to-even, SQL ROUND is half-away — a
    kernel-side round would diverge at 4th-decimal midpoints).
    State: <= k longs + a counter per segment.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (f"{seg_col} string, n_hashes bigint, theta_hash bigint, "
                  "n_seen bigint")
    state_schema = "hashes array<bigint>, n bigint"

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            prev, n = state.get
            hashes = np.asarray(prev, dtype=np.int64)
        else:
            hashes, n = np.empty(0, dtype=np.int64), 0
        for pdf in pdf_iter:
            hv = pdf["__hv"].dropna().to_numpy(dtype=np.int64)
            n += len(hv)
            hashes = np.unique(np.concatenate([hashes, hv]))[:k]
        state.update((hashes.tolist(), n))
        nh = len(hashes)
        theta = int(hashes[-1]) if nh else None
        yield pd.DataFrame(
            {seg_col: [key[0]], "n_hashes": [nh], "theta_hash": [theta],
             "n_seen": [n]})

    # 60-bit hash computed JVM-side (same rendering as the batch twin
    # and the SQL oracle); the stateful kernel folds numpy k-minima.
    # Null SEGMENTS are filtered like the batch twin does — without
    # this the groupBy state would emit a null-segment sketch row the
    # oracle never produces.
    hv = F.conv(
        F.substring(F.md5(F.col(item_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    src = stream.where(
        F.col(seg_col).isNotNull() & F.col(item_col).isNotNull()
    ).select(
        F.col(seg_col).cast("string").alias(seg_col),
        hv.alias("__hv"))
    return src.groupBy(seg_col).applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


def latest_kmv_sketches(stream_table: DataFrame, seg_col: str,
                        k: int = 64) -> DataFrame:
    """The current sketch per segment from a stream_kmv_distinct update
    table (highest n_seen wins), with the KMV estimate computed in the
    SAME Catalyst expression the batch kmv_distinct uses — so streamed
    and batch results are bit-identical."""
    from pyspark.sql import Window

    latest = (
        stream_table.withColumn(
            "__rn", F.row_number().over(
                Window.partitionBy(seg_col).orderBy(F.desc("n_seen"))))
        .where(F.col("__rn") == 1)
    )
    n = F.col("n_hashes")
    theta = F.col("theta_hash").cast("double")
    est = F.when(n < k, n.cast("double")).otherwise(
        F.round(F.lit(float(k - 1)) * F.lit(float(1 << 60)) / theta, 4))
    return latest.select(seg_col, "n_hashes", "theta_hash",
                         est.alias("est_distinct"))
