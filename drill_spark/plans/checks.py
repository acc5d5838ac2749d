"""Physical-plan inspection helpers — the engine's efficiency contract.

Drill asserts plan shape in tests by grepping EXPLAIN output
(reference: /root/reference/exec/java-exec/src/test/java/org/apache/drill/
PlanTestBase.java — regex include/exclude over the plan text, used by
TestProjectPushDown.java, TestPartitionFilter.java, ...). The same idea
on Spark: parse `df.explain("formatted")` and assert the properties
that matter at 100 TB:

- **PushedFilters** — predicate reached the parquet scan (Drill:
  FilePushDownFilter, store/parquet/FilePushDownFilter.java).
- **ReadSchema** — column pruning reached the scan (Drill:
  DrillPushProjectIntoScanRule).
- **BroadcastHashJoin** — small dimension broadcast instead of a
  shuffle (Drill: BroadcastExchange, physical/config/BroadcastExchange.java).
- **partial HashAggregate** — map-side combine before the exchange
  (Drill 2-phase agg: planner/physical/HashAggPrule.java).
- **TakeOrderedAndProject** — ORDER BY+LIMIT as top-k, not full sort
  (Drill TopN: physical/impl/TopN/TopNBatch.java:87).
- **WholeStageCodegen spans** — expressions stay JVM-side; a Python
  node (BatchEvalPython, ArrowEvalPython, FlatMapGroupsInPandas, ...)
  in a hot path is a red flag, and so is a ``Scan ExistingRDD`` over a
  Python-backed RDD.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """All filters pushed into scans (flattened across scan nodes)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", explain_str(df)):
        out.extend(p.strip() for p in m.group(1).split(",") if p.strip())
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Per-scan list of columns actually read (column-pruning witness)."""
    out: list[list[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", explain_str(df)):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in explain_str(df)


def has_partial_aggregate(df: DataFrame) -> bool:
    """True when a map-side partial aggregate precedes the exchange."""
    s = explain_str(df)
    return "partial_" in s or s.count("HashAggregate") >= 2 or s.count("SortAggregate") >= 2


def python_rdd_scans(df: DataFrame) -> int:
    """Scans of an RDD whose lineage holds a ``PythonRDD``: what
    ``createDataFrame(<list>)``, ``parallelize`` and an RDD ``map``
    lifted to a DataFrame plan. Each prints as a plain ``Scan
    ExistingRDD`` but runs Python workers at the action. Counts every
    such node of the optimized plan, subqueries and broadcast sides
    included; a checkpoint's scan (its lineage cut) does not count."""
    stack, n = [df._jdf.queryExecution().optimizedPlan()], 0
    while stack:
        node = stack.pop()
        if (node.getClass().getSimpleName() == "LogicalRDD"
                and "PythonRDD" in node.rdd().toDebugString()):
            n += 1
        for seq in (node.children(), node.subqueries()):
            stack += [seq.apply(i) for i in range(seq.size())]
    return n


def has_python_eval(df: DataFrame) -> bool:
    """True when the plan runs Python: a physical node of Spark's
    ``org.apache.spark.sql.execution.python`` package (a Python UDF,
    pandas or Arrow map, grouped, cogrouped or window evaluator), or a
    scan of a Python-backed RDD (``python_rdd_scans``). Every node
    counts: subqueries, adaptive query stages and cached plans too."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass()
        if cls.getName().startswith("org.apache.spark.sql.execution.python."):
            return True
        if cls.getSimpleName() == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.getSimpleName().endswith("QueryStageExec"):
            stack.append(node.plan())
        for seq in (node.children(), node.innerChildren()):
            stack += [seq.apply(i) for i in range(seq.size())]
    return python_rdd_scans(df) > 0


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Distinct whole-stage-codegen regions (formatted mode tags nodes
    with `codegen id : N`; simple mode with `WholeStageCodegen (N)`)."""
    s = explain_str(df, mode="codegen")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", s)
    if m and int(m.group(1)) > 0:
        return int(m.group(1))
    # Under AQE the pre-execution plan reports 0 subtrees; execute THIS
    # DataFrame's plan to final (cheap at test scale) and count the
    # `*(N)` codegen-region tags in the final adaptive plan.
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    if "== Initial Plan ==" in final:
        final = final.split("== Initial Plan ==", 1)[0]
    return len(set(re.findall(r"\*\((\d+)\)", final)))


def exchange_payload_columns(df: DataFrame) -> list[list[str]]:
    """Per-shuffle list of column names crossing each Exchange — the
    witness for 'wide payload X never shuffles' claims (e.g. the
    ExactSubstr digest mode must keep span STRINGS out of every
    exchange; only fixed-width digests may cross)."""
    out: list[list[str]] = []
    for m in re.finditer(
            r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]",
            explain_str(df)):
        cols = [re.sub(r"#\d+L?", "", c.strip())
                for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def explain_report(df: DataFrame) -> dict:
    """One-call plan diagnostic: the scale-relevant facts of a plan as
    a dict (the programmatic face of `.explain("formatted")` — what a
    reviewer checks before declaring an operator 100 TB-ready).

    Keys: join strategies with counts, shuffle count, scan read
    schemas, pushed filters, partition filters, python evaluators,
    codegen span count, AQE on/off.
    """
    import re
    from collections import Counter

    plan = df._jdf.queryExecution().executedPlan().toString()
    # after execution AQE appends "== Initial Plan ==" below the final
    # plan — count only the final plan or every node doubles
    if "== Initial Plan ==" in plan:
        plan = plan.split("== Initial Plan ==", 1)[0]
    joins = Counter(
        re.findall(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin|CartesianProduct)",
            plan,
        )
    )
    return {
        "joins": dict(joins),
        "shuffles": len(re.findall(r"Exchange (?:hash|range|Single)", plan)),
        "read_schemas": re.findall(r"ReadSchema: (struct<[^>]*>?)", plan),
        "pushed_filters": re.findall(r"PushedFilters: \[([^\]]*)\]", plan),
        "partition_filters": re.findall(r"PartitionFilters: \[([^\]]*)\]", plan),
        "python_eval": has_python_eval(df),
        "codegen_spans": wholestage_codegen_spans(df),
        "adaptive": plan.startswith("AdaptiveSparkPlan"),
    }
