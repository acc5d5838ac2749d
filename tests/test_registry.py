"""The query registry: one ``Query`` row per name, each with an oracle
or the reason it has none."""

from __future__ import annotations

import ast
import glob
import os

import pytest

import __spark_entry__
from drill_spark.registry import Query, table

ROOT = os.path.join(os.path.dirname(__file__), "..")

# The queries checked by row count only. A row that loses its oracle
# shows up here instead of silently leaving the hash compare.
ROWS_ONLY = {
    "ext_ann_ivf", "ext_ann_ivfpq", "ext_ann_lsh", "ext_ann_pq",
    "ext_cluster_sample", "ext_crossmodal_align", "ext_crossmodal_topk",
    "ext_dedup_clusters", "ext_dedup_minhash", "ext_dedup_simhash",
    "ext_dedup_simhash_pairs", "ext_incremental_near_dedup",
    "ext_quality_classifier", "ext_semantic_dedup",
    "ext_vector_index_probe", "op_agg_approx_ndv", "op_agg_hll_sketch",
}


def _build(spark, sf_dir):
    raise AssertionError("not run")


def test_duplicate_name_raises():
    a = Query("q_dup", _build, "select 1")
    b = Query("q_dup", _build, "select 2")
    assert list(table([a], [Query("q_other", _build, "select 3")])) == ["q_dup", "q_other"]
    with pytest.raises(ValueError, match="q_dup"):
        table([a], [b])
    with pytest.raises(ValueError, match="q_dup"):
        table([a, b])


def test_row_needs_oracle_or_reason():
    with pytest.raises(ValueError, match="q_bare"):
        Query("q_bare", _build)
    with pytest.raises(ValueError, match="q_both"):
        Query("q_both", _build, "select 1", why_no_oracle="approximate")
    assert Query("q_rows", _build, why_no_oracle="approximate").oracle is None


def test_priority_names_are_registered_and_lead():
    names = list(__spark_entry__.queries())
    prio = __spark_entry__._PRIORITY
    assert len(prio) == len(set(prio)) == 50
    assert set(prio) <= set(__spark_entry__.REGISTRY)
    assert names[:50] == prio
    assert sorted(names) == sorted(__spark_entry__.REGISTRY)


def test_rows_only_names_are_pinned():
    reg = __spark_entry__.REGISTRY
    assert {n for n, q in reg.items() if q.oracle is None} == ROWS_ONLY
    assert all(reg[n].why_no_oracle for n in ROWS_ONLY)
    assert __spark_entry__.oracle_sql() == {
        n: q.oracle for n, q in reg.items() if n not in ROWS_ONLY}


def test_each_name_is_written_once():
    """A query name appears as a string literal in exactly one row of
    the program code. Outside the rows only the driver-cap order
    (``__spark_entry__._PRIORITY``) and ``scripts/scale_soak.py``,
    whose FLAGSHIPS list picks the sf10 soak, may spell names."""
    names = set(__spark_entry__.REGISTRY)
    files = (glob.glob(os.path.join(ROOT, "drill_spark", "**", "*.py"), recursive=True)
             + glob.glob(os.path.join(ROOT, "scripts", "*.py"))
             + [os.path.join(ROOT, "bench.py")])
    seen: dict[str, list[str]] = {}
    for path in files:
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if (isinstance(node, ast.Constant) and node.value in names
                    and not path.endswith(os.path.join("scripts", "scale_soak.py"))):
                seen.setdefault(node.value, []).append(
                    f"{os.path.relpath(path, ROOT)}:{node.lineno}")
    assert {n: locs for n, locs in seen.items() if len(locs) != 1} == {}
    assert set(seen) == names
