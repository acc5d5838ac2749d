"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Each query is one ``drill_spark.registry.Query`` row: its name, its
builder ``(spark, sf_dir) -> DataFrame``, and either the DuckDB oracle
SQL with matching column names or the reason it has none (rows-only).
The rows live in the ``ROWS`` of the five family modules imported below;
``REGISTRY`` joins them and rejects a name registered twice. To add a
query, add its row to its family: ``_q(name, sql)`` in ``tpch``/``relops``
(one SQL text, optionally with a separate oracle), ``_decorrelated(name,
body)`` in ``tpcds``, or ``Query(name, builder, oracle)`` at the bottom of
any family for a hand-written builder.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from drill_spark import extops, relops, scanops, tpcds, tpch
from drill_spark.registry import Query, table

REGISTRY: dict[str, Query] = table(
    tpch.ROWS, relops.ROWS, extops.ROWS, scanops.ROWS, tpcds.ROWS)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1) on /root/testdata/sf0.001."""
    return REGISTRY["tpch_q01"].build(spark, "/root/testdata/sf0.001")


# A driver that caps the number of evaluated queries evaluates these
# first, so the cap holds at least one row per SURVEY §2 family. Every
# other query follows in registry order; the full sweep
# (scripts/check_correctness.py) runs them all.
_PRIORITY = [
    "tpch_q01", "tpch_q02", "tpch_q13", "tpch_q18", "tpch_q22",
    "tpcds_q73", "op_join_inner", "ext_curation_pipeline",
    "ext_curation_audit", "ext_bpe_tokens", "ext_quality_auc",
    "op_union_all", "op_agg_rollup", "op_window_ranks",
    "op_flatten_explode", "op_string_fns", "op_correlated_subquery",
    "op_null_safe_join", "op_time_window_tumbling", "ext_substr_decontam",
    "ext_gopher_repetition", "ext_lang_id", "ext_lang_mixture",
    "ext_substr_dedup", "ext_substr_dedup_digest",
    "ext_incremental_substr", "ext_stream_substr_dedup", "ext_pack_bins",
    "ext_event_paths", "ext_incremental_setsim", "ext_setsim_tables",
    "ext_stream_setsim_dedup", "tpcds_q47", "tpcds_q95", "tpcds_q14",
    "ext_retrieval_eval", "ext_quality_auc_by_group",
    "ext_calibration_bins", "ext_stream_quality_auc",
    "ext_stratified_weighted_sample", "ext_collocations",
    "ext_incremental_curation_audit", "tpcds_q64", "tpcds_q78",
    "ext_setsim_join", "ext_containment_join", "ext_dedup_exact",
    "ext_pii_redact", "ext_vector_index", "ext_skew_join",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    ordered = {k: REGISTRY[k].build for k in _PRIORITY}
    ordered.update((k, q.build) for k, q in REGISTRY.items())  # keeps positions
    return ordered


def oracle_sql() -> dict[str, str]:
    return {k: q.oracle for k, q in REGISTRY.items() if q.oracle is not None}


def warm(spark: SparkSession, sf_dir: str, names) -> None:
    """Run each row of ``names`` that sets ``warms`` once over ``sf_dir``,
    so the machinery it spins up is started before anything is timed. A
    failing warm-up is reported on stderr and does not stop the run."""
    for name, q in REGISTRY.items():
        if q.warms and name in names:
            try:
                q.build(spark, sf_dir).count()
            except Exception as e:
                print(f"warmup {name}: {e}", file=sys.stderr)
