"""Plan-shape assertions (reference model: PlanTestBase.java regex
checks over EXPLAIN — TestProjectPushDown.java, TestPartitionFilter.java).

These are the 100 TB-scale invariants: if one regresses, the query
still returns correct rows at sf0.001 but would melt on a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from drill_spark import plans, relops, tpch
from drill_spark.session import load_fixture, local_frame

from .conftest import SF_DIR


def test_filter_pushdown_reaches_scan(spark):
    """TPC-H Q6 predicates must appear as PushedFilters on the parquet
    scan (Drill: FilePushDownFilter)."""
    df = tpch.queries()["tpch_q06"](spark, SF_DIR)
    pushed = " ".join(plans.pushed_filters(df))
    assert "l_shipdate" in pushed.lower() or "l_discount" in pushed.lower(), pushed


def test_column_pruning_reaches_scan(spark):
    """Q6 touches 4 of lineitem's 16 columns; the scan must not read more."""
    df = tpch.queries()["tpch_q06"](spark, SF_DIR)
    schemas = plans.read_schema_columns(df)
    assert schemas, "no scan found"
    for cols in schemas:
        assert len(cols) <= 5, f"scan reads too many columns: {cols}"


def test_small_dim_join_broadcasts(spark):
    """customer ⋈ nation ⋈ region: dims must broadcast, not shuffle
    (Drill: BroadcastExchange chosen by cost)."""
    df = relops.queries()["op_join_inner"](spark, SF_DIR)
    assert plans.has_broadcast_hash_join(df), plans.explain_str(df)


def test_two_phase_aggregation(spark):
    """Q1 must plan partial (map-side) + final aggregation
    (Drill: HashAggPrule 2-phase)."""
    df = tpch.queries()["tpch_q01"](spark, SF_DIR)
    assert plans.has_partial_aggregate(df), plans.explain_str(df)


def test_topn_not_full_sort(spark):
    """ORDER BY + LIMIT must plan TakeOrderedAndProject (Drill TopN),
    not a global sort."""
    df = relops.queries()["op_topn"](spark, SF_DIR)
    assert plans.has_take_ordered(df), plans.explain_str(df)


def test_relational_core_is_jvm_side(spark):
    """No Python-eval nodes in the relational core: TPC-H + relops plans
    stay inside Catalyst/codegen (UDFs are the slow path)."""
    for name in ("tpch_q01", "tpch_q03", "tpch_q06"):
        df = tpch.queries()[name](spark, SF_DIR)
        assert not plans.has_python_eval(df), f"{name} fell out of the JVM"
    for name in ("op_join_inner", "op_window_ranks", "op_agg_rollup"):
        df = relops.queries()[name](spark, SF_DIR)
        assert not plans.has_python_eval(df), f"{name} fell out of the JVM"


def test_tpch_corpus_plan_invariants(spark):
    """All 22 TPC-H plans: JVM-side only, and every lineitem scan is
    column-pruned (never reads the full 7+-column fixture schema when
    fewer are needed)."""
    for name, fn in tpch.queries().items():
        df = fn(spark, SF_DIR)
        assert not plans.has_python_eval(df), f"{name} fell out of the JVM"
        s = plans.explain_str(df)
        assert "CartesianProduct" not in s, f"{name} planned a cartesian product"


def test_wholestage_codegen_covers_q1(spark):
    df = tpch.queries()["tpch_q01"](spark, SF_DIR)
    assert plans.wholestage_codegen_spans(df) >= 1


def test_extension_ops_jvm_side(spark):
    """Dedup/text ops are built from Catalyst expressions, not Python
    UDFs (multimodal feature extraction is the documented exception)."""
    from drill_spark import extops

    for name in ("ext_dedup_exact", "ext_text_stats", "ext_text_fingerprint"):
        df = extops.QUERIES[name](spark, SF_DIR)
        assert not plans.has_python_eval(df), f"{name} fell out of the JVM"


def test_partition_filter_on_real_partitions(spark, tmp_path):
    """Hive-layout tables get real partition pruning (PartitionFilters),
    the scale path for Drill's dir0 pruning (PruneScanRule analog)."""
    p = str(tmp_path / "pt")
    load_fixture(spark, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    ).write.partitionBy("o_year").parquet(p)
    df = spark.read.parquet(p).where("o_year = 1995")
    s = plans.explain_str(df)
    # the filter lands in PartitionFilters (directory pruning), NOT as a
    # row-level DataFilter — non-matching year directories are never read
    assert "PartitionFilters" in s and "o_year" in s.split("PartitionFilters", 1)[1][:200]
    pushed = " ".join(plans.pushed_filters(df))
    assert "o_year" not in pushed  # not a row filter: pruned at listing
    # multiple year partitions exist, so pruning is non-trivial
    import glob

    assert len(glob.glob(os.path.join(p, "o_year=*"))) > 1
    assert df.select(F.countDistinct("o_year")).head()[0] == 1


def test_explain_report_shape(spark):
    from drill_spark import plans
    from drill_spark.session import load_fixture

    from .conftest import SF_DIR

    li = load_fixture(spark, SF_DIR, "lineitem")
    ord_ = load_fixture(spark, SF_DIR, "orders")
    df = (
        li.where("l_quantity > 10")
        .join(ord_, li["l_orderkey"] == ord_["o_orderkey"])
        .groupBy("o_orderpriority")
        .count()
    )
    rep = plans.explain_report(df)
    assert rep["adaptive"] is True and rep["python_eval"] is False
    assert sum(rep["joins"].values()) == 1
    assert rep["shuffles"] >= 1  # the aggregation exchange
    assert any("l_quantity" in f for f in rep["pushed_filters"])


def test_trigram_lm_plan_shape(spark):
    """Corpus-trained trigram LM scoring: zero Python in the plan and
    the vocabulary-sized count tables join back as BROADCASTS — the
    shape that keeps a 100 TB corpus at one scan + bounded aggs."""
    from drill_spark import extops

    df = extops.QUERIES["ext_trigram_lm"](spark, SF_DIR)
    assert not plans.has_python_eval(df)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("BroadcastHashJoin") >= 2, phys[:2000]


def test_semantic_dedup_no_cartesian(spark):
    """SemDeDup's pair stage must stay a bucketed equi-join — never a
    cartesian/broadcast-nested-loop across the corpus."""
    from drill_spark import extops

    df = extops.QUERIES["ext_semantic_dedup"](spark, SF_DIR)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys


def test_setsim_containment_no_cartesian_no_python(spark):
    """The exact similarity joins must stay prefix-keyed equi-joins:
    no cartesian/NLJ across the corpus and no Python eval anywhere —
    tokenize, order, prefix, candidate and verify are all Catalyst."""
    from drill_spark import extops

    for name in ("ext_setsim_join", "ext_containment_join"):
        df = extops.QUERIES[name](spark, SF_DIR)
        assert not plans.has_python_eval(df), name
        phys = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in phys, name
        assert "BroadcastNestedLoopJoin" not in phys, name


def test_iceberg_scan_filter_pushdown(spark, tmp_path):
    """Filters on iceberg-read tables reach the parquet scan as
    PushedFilters — including on identity partition columns, whose
    values live IN the data files (one value per file, so row-group
    min/max stats skip whole files: the mechanics behind partition
    pruning without a custom Catalyst rule)."""
    from pyspark.sql import functions as F

    from drill_spark.readers.iceberg import read_iceberg, write_iceberg

    tbl = str(tmp_path / "ice_push")
    write_iceberg(
        spark.range(40).select(
            F.col("id").alias("k"), (F.col("id") % 4).cast("int").alias("cell")),
        tbl, partition_by=["cell"])
    df = read_iceberg(spark, tbl).where("cell = 2 and k > 5")
    pushed = " ".join(plans.pushed_filters(df)).lower()
    assert "cell" in pushed and "k" in pushed, pushed
    assert df.count() == 9  # k in {6,10,...,38}


def test_multimodal_dedup_plans_no_cartesian(spark):
    """The r6 dedup operators (substring winnowing, image pHash, audio
    fingerprints, video frames) must pair through equi-joins on
    hash/band keys — never a cartesian or nested-loop across the
    corpus — and their verify math stays JVM-side after the Arrow
    fingerprinting pass."""
    from drill_spark import extops

    for name in ("ext_substring_dedup", "ext_image_phash_dedup",
                 "ext_audio_dedup", "ext_video_dedup"):
        df = extops.QUERIES[name](spark, SF_DIR)
        phys = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in phys, name
        assert "BroadcastNestedLoopJoin" not in phys, name


def test_minhash_near_dupes_shuffle_count(spark):
    """MinHash near-dup detection plans at most 7 shuffle exchanges: one
    signature aggregation, one bucket aggregation, the candidate
    distinct, the per-document word-set aggregation and the verify's
    joins. Each exchange is a stage boundary, and at corpus scale each
    is a job of its own; a per-word verify plans 17."""
    from drill_spark.ops.dedup import minhash_near_dupes

    df = local_frame(
        spark, [(1, "a b c d e"), (2, "a b c d f"), (3, None)], "doc_id long, text string")
    pairs = minhash_near_dupes(df, "doc_id", "text", 0.5)
    rep = plans.explain_report(pairs)
    assert rep["shuffles"] <= 7, plans.explain_str(pairs)
    assert rep["python_eval"] is False


def test_search_and_fuzzy_plan_invariants(spark):
    """r8 retrieval/resolution operators: BM25 top-k must be a
    TakeOrderedAndProject (never a global sort), its df/corpus sides
    broadcast; the fuzzy join must pair through token equi-joins (no
    cartesian / nested loop); every one stays JVM-side."""
    from drill_spark import extops

    bm25 = extops.QUERIES["ext_bm25_topk"](spark, SF_DIR)
    assert plans.has_take_ordered(bm25)
    assert not plans.has_python_eval(bm25)
    phys = bm25._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in phys
    assert "BroadcastExchange" in phys  # df + corpus one-row sides

    # tfidf's single BroadcastNestedLoopJoin is the one-row corpus-stats
    # cross join (BuildRight) — a constant-size broadcast, not a pair
    # explosion; everything else must have none at all
    tfidf = extops.QUERIES["ext_tfidf_keywords"](spark, SF_DIR)
    phys = tfidf._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in phys
    assert phys.count("BroadcastNestedLoopJoin") <= 1
    assert "BroadcastNestedLoopJoin BuildLeft" not in phys
    assert not plans.has_python_eval(tfidf)

    # triplet mining: the anchor-batch cross is the one allowed
    # broadcast NLJ; the corpus side must never build
    trip = extops.QUERIES["ext_triplet_mine"](spark, SF_DIR)
    phys = trip._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin BuildLeft" not in phys
    assert not plans.has_python_eval(trip)

    for name in ("ext_fuzzy_join", "ext_leakage_split", "ext_url_canon",
                 "ext_line_dedup", "ext_gap_fill"):
        df = extops.QUERIES[name](spark, SF_DIR)
        phys = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in phys, name
        assert "BroadcastNestedLoopJoin" not in phys, name
        assert not plans.has_python_eval(df), name


# Registry queries that scan a Python-backed RDD, each with its reason.
_PYTHON_RDD_SCANS = {
    "op_sequencefile_scan": "readers/files.py read_sequencefile lifts the "
                            "records of sparkContext.sequenceFile to a frame "
                            "through a Python map: a Python RDD by design",
}


def test_registry_python_rdd_scans_are_allowlisted(spark):
    """Every registry query, built and not run: a scan of a
    Python-backed RDD (``createDataFrame(<list>)``, ``parallelize``)
    runs Python workers at the action and hides from the Python-node
    checks as a plain ``Scan ExistingRDD``. Driver-side rows are local
    relations (``session.local_frame``), so only the allowlisted queries
    plan such a scan, and each of them still does."""
    import __spark_entry__

    found = {}
    for name, fn in __spark_entry__.queries().items():
        df = fn(spark, SF_DIR)
        if "Scan ExistingRDD" in plans.explain_str(df):
            n = plans.python_rdd_scans(df)
            if n:
                found[name] = n
    assert set(found) == set(_PYTHON_RDD_SCANS), found


def test_no_rdd_api_in_package():
    """Engine rule (SCALE.md): plans are DataFrame-only — the
    DataFrame→RDD conversion path (`df.rdd`) must never be touched in
    an operator body. Self-enforcing grep over the package source, same
    pattern as the collect() discipline. `.rdd` is permitted ONLY in
    plans/checks.py, which inspects a plan and runs no operator: it
    reads a ``LogicalRDD`` node's lineage through the JVM accessor
    ``rdd()`` to tell a Python-backed scan from a checkpoint.
    `sparkContext.parallelize` is permitted ONLY under readers/ where it
    distributes driver-fetched REST payloads or table-format manifest
    lists (bounded by construction: an HTTP response / a metadata file
    already sits on the driver)."""
    import glob
    import re

    pkg = os.path.join(os.path.dirname(__file__), "..", "drill_spark")
    offenders = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        in_readers = os.sep + "readers" + os.sep in path
        plan_inspector = path.endswith(os.path.join("plans", "checks.py"))
        src = open(path).read()
        for i, line in enumerate(src.splitlines(), 1):
            code = line.split("#", 1)[0]
            if re.search(r"\.rdd\b", code) and not plan_inspector:
                offenders.append(f"{os.path.basename(path)}:{i}")
            if re.search(r"sparkContext\.parallelize", code) and not in_readers:
                offenders.append(f"{os.path.basename(path)}:{i}")
    assert offenders == [], offenders


def test_ops_have_one_implementation_per_operator():
    """Each operator has one implementation: no public function in a
    drill_spark.ops module takes an ``impl`` or ``engine`` selector (a
    second implementation stays only where it wins a measured workload,
    and then it is the only one)."""
    import importlib
    import inspect
    import pkgutil

    import drill_spark.ops as ops

    offenders = []
    for info in pkgutil.iter_modules(ops.__path__):
        mod = importlib.import_module(f"drill_spark.ops.{info.name}")
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if name.startswith("_") or fn.__module__ != mod.__name__:
                continue
            bad = {"impl", "engine"} & set(inspect.signature(fn).parameters)
            if bad:
                offenders.append(f"{mod.__name__}.{name}: {sorted(bad)}")
    assert offenders == [], offenders


def test_no_module_defines_a_top_level_name_twice():
    """A second top-level ``def``/``class`` of the same name silently
    shadows the first for every caller (no linter runs here), so each
    module under drill_spark/ defines each top-level name once."""
    import ast

    import drill_spark

    root = os.path.dirname(drill_spark.__file__)
    offenders = []
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            seen: dict[str, int] = {}
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                    if node.name in seen:
                        offenders.append(
                            f"{os.path.relpath(path, root)}:{node.lineno} "
                            f"{node.name} (first at {seen[node.name]})")
                    seen.setdefault(node.name, node.lineno)
    assert offenders == [], offenders
