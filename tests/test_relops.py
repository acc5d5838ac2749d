"""Relational-operator coverage vs DuckDB oracle (reference model:
TestExampleQueries / TestSetOp / TestWindowFunctions / TestGroupingSetsResults)."""

from __future__ import annotations

import pytest

from __spark_entry__ import REGISTRY
from drill_spark import relops

from .conftest import SF_DIR, assert_same_results


@pytest.mark.parametrize(
    "name", sorted(q.name for q in relops.ROWS if q.oracle is not None))
def test_relop(name, spark, duck):
    df = REGISTRY[name].build(spark, SF_DIR)
    assert_same_results(df, duck, REGISTRY[name].oracle)


def test_approx_ndv_bounded_error(spark, duck):
    """approx_count_distinct / HLL sketch estimates within 5% of exact
    (hash-specific values → rows-only for the driver, bounded here)."""
    got = {
        r["o_orderstatus"]: r["approx_cust"]
        for r in REGISTRY["op_agg_approx_ndv"].build(spark, SF_DIR).collect()
    }
    exact = dict(
        duck.execute(
            "select o_orderstatus, count(distinct o_custkey) from orders group by 1"
        ).fetchall()
    )
    for k, e in exact.items():
        assert abs(got[k] - e) <= max(2, 0.05 * e), (k, got[k], e)
    est = REGISTRY["op_agg_hll_sketch"].build(spark, SF_DIR).head()["est_custkeys"]
    e = duck.execute("select count(distinct o_custkey) from orders").fetchone()[0]
    assert abs(est - e) <= max(2, 0.05 * e)


def test_approx_percentile_bounded_error(spark, duck):
    got = {
        r["l_returnflag"]: r["approx_med"]
        for r in REGISTRY["op_agg_approx_percentile"].build(spark, SF_DIR).collect()
    }
    exact = dict(
        duck.execute(
            "select l_returnflag, median(l_quantity) from lineitem group by 1"
        ).fetchall()
    )
    for k, e in exact.items():
        assert abs(got[k] - e) <= max(1.0, 0.05 * abs(e)), (k, got[k], e)
