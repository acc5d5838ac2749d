"""Forced-exchange TPC-H runs (TestTpchDistributed.java:28-31 analog:
the reference forces distribution with planner.slice_target=10 and
asserts identical results). Here we disable broadcast joins so every
join becomes a shuffle exchange + sort-merge join, and assert the
results match the default (broadcast-happy) plans — exchanges must not
change answers."""

from __future__ import annotations

import pytest

from __spark_entry__ import REGISTRY
from drill_spark import tpch


@pytest.mark.parametrize("qname", ["tpch_q03", "tpch_q05", "tpch_q10", "tpch_q18"])
def test_forced_exchange_matches_default(spark, qname):
    from .conftest import SF_DIR

    q = REGISTRY[qname].build
    default_rows = sorted(map(tuple, q(spark, SF_DIR).collect()))
    conf = spark.conf
    old_thresh = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.join.preferSortMergeJoin", "true")
        df = q(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan  # exchanges actually forced
        forced_rows = sorted(map(tuple, df.collect()))
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        conf.unset("spark.sql.join.preferSortMergeJoin")
    assert forced_rows == default_rows


def test_limit0_schema_only(spark):
    """FindLimit0Visitor analog: LIMIT 0 must collapse to an empty
    local relation — schema available, no file scan in the plan."""
    from drill_spark.session import load_fixture
    from .conftest import SF_DIR

    load_fixture(spark, SF_DIR, "lineitem").createOrReplaceTempView("_l0")
    df = spark.sql("select l_orderkey, l_quantity * 2 as q2 from _l0 limit 0")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "LocalTableScan" in plan
    assert [f.name for f in df.schema.fields] == ["l_orderkey", "q2"]
    assert df.count() == 0


def test_count_star_aggregate_pushdown(spark):
    """ConvertCountToDirectScan analog: count(*) on parquet must not
    read any columns — the scan projects the empty schema and the
    vectorized reader serves batch row counts from row-group metadata
    (V2 scans would show PushedAggregation instead)."""
    from .conftest import SF_DIR

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").groupBy().count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation: [COUNT(*)]" in plan or "ReadSchema: struct<>" in plan


def test_tpch_plan_shapes(spark):
    """TestTpchExplain/TestTpchPlanning analog: no TPC-H plan may
    contain a cartesian product, a broadcast nested-loop join, or a
    Python evaluator — every join must be hash- or merge-based and the
    whole corpus stays JVM-side."""
    from .conftest import SF_DIR

    offenders = {}
    for r in tpch.ROWS:
        name = r.name
        plan = r.build(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        bad = [
            p
            for p in ("CartesianProduct", "BroadcastNestedLoopJoin", "PythonEval", "BatchEvalPython")
            if p in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"anti-patterns in plans: {offenders}"
