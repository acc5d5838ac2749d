"""TPC-H adapted corpus vs DuckDB oracle (reference test model:
TestTpchSingleMode.java / golden-baseline compare via TestBuilder)."""

from __future__ import annotations

import pytest

from __spark_entry__ import REGISTRY
from drill_spark import tpch

from .conftest import SF_DIR, assert_same_results

NONEMPTY = {
    # queries that must return rows at sf0.001 to be meaningful
    "tpch_q01": 1,
    "tpch_q04": 1,
    "tpch_q05": 0,
    "tpch_q06": 1,
    "tpch_q13": 1,
}


@pytest.mark.parametrize("name", sorted(q.name for q in tpch.ROWS))
def test_tpch_query(name, spark, duck):
    df = REGISTRY[name].build(spark, SF_DIR)
    assert_same_results(df, duck, REGISTRY[name].oracle, check_rows=NONEMPTY.get(name))
