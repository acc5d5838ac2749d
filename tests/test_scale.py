"""Scale utilities: salted joins (skew) and bucketed co-located joins.

The assertions here are the 100 TB contracts: salting must not change
the join result; bucketed joins must eliminate the shuffle (no Exchange
above either scan in the final plan).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from __spark_entry__ import REGISTRY
from drill_spark import plans
from drill_spark.ops.scale import salted_join, write_bucketed
from drill_spark.session import load_fixture

from .conftest import SF_DIR


def test_salted_join_equals_plain_join(spark):
    orders = load_fixture(spark, SF_DIR, "orders")
    customer = load_fixture(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    plain = orders.join(customer, ["o_custkey"]).groupBy("c_nationkey").count()
    salted = (
        salted_join(orders, customer, ["o_custkey"], salt=8)
        .groupBy("c_nationkey")
        .count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    orders = load_fixture(spark, SF_DIR, "orders").limit(500)
    dim = spark.createDataFrame([(1, "x")], "o_custkey int, tag string")
    plain = orders.join(dim, ["o_custkey"], "left").count()
    salted = salted_join(orders, dim, ["o_custkey"], how="left", salt=4).count()
    assert plain == salted == 500


def test_bucketed_join_has_no_shuffle(spark):
    """Both sides bucketed on the join key → SortMergeJoin directly over
    the scans; the only Exchange allowed is for the final small agg."""
    orders = load_fixture(spark, SF_DIR, "orders")
    customer = load_fixture(spark, SF_DIR, "customer")
    write_bucketed(spark, orders.select("o_orderkey", "o_custkey", "o_totalprice"),
                   "b_orders", ["o_custkey"], buckets=8)
    write_bucketed(spark, customer.select("c_custkey", "c_nationkey"),
                   "b_customer", ["c_custkey"], buckets=8)
    # disable broadcast so the shuffle-elimination witness is visible
    # (at real scale both sides are too big to broadcast anyway)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        ).select("o_orderkey", "c_nationkey")
        s = plans.explain_str(joined)
        # co-located: SortMergeJoin with NO shuffle Exchange on either side
        assert "SortMergeJoin" in s, s
        assert "Exchange hashpartitioning" not in s, s
        # and it still answers correctly
        n = joined.count()
        plain = orders.join(customer, orders.o_custkey == customer.c_custkey).count()
        assert n == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_asof_join_is_not_a_nested_loop(spark):
    """The as-of union+window formulation must never plan a nested-loop
    or cartesian join (the naive inequality-join formulation does)."""
    df = REGISTRY["ext_asof_join"].build(spark, SF_DIR)
    s = plans.explain_str(df)
    assert "BroadcastNestedLoopJoin" not in s and "CartesianProduct" not in s, s
    assert "Window" in s


def test_range_join_is_equi_bucketed(spark):
    """Point-in-interval join runs as an equi hash join on the bucket
    id, with containment as a post-filter — not an inequality NLJ."""
    df = REGISTRY["ext_range_join"].build(spark, SF_DIR)
    s = plans.explain_str(df)
    assert "BroadcastNestedLoopJoin" not in s and "CartesianProduct" not in s, s


def test_bucketed_agg_has_no_shuffle(spark):
    """Aggregation on the bucket key reuses the persisted distribution."""
    orders = load_fixture(spark, SF_DIR, "orders")
    write_bucketed(spark, orders.select("o_custkey", "o_totalprice"),
                   "b_orders_agg", ["o_custkey"], buckets=8)
    agg = spark.table("b_orders_agg").groupBy("o_custkey").agg(F.sum("o_totalprice"))
    s = plans.explain_str(agg)
    assert "Exchange" not in s, s
    spark.sql("DROP TABLE IF EXISTS b_orders_agg")


def test_crawl_pipeline_single_shuffle(spark):
    """WARC scan -> HTML extract -> dup-signal window: the extraction
    chain must pipeline onto the scan (no exchange between them); the
    ONLY exchange in the plan is the dup-hash window's."""
    df = REGISTRY["ext_crawl_pipeline"].build(spark, SF_DIR)
    rep = plans.explain_report(df)
    assert rep["shuffles"] <= 1, rep
    s = plans.explain_str(df)
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s


def test_heavy_hitters_broadcasts_candidates(spark):
    """The verify join must broadcast the (tiny) candidate set — the
    source side never shuffles on the key; the only key-wide exchange
    is the final exact count over CANDIDATE keys only."""
    from drill_spark.ops.sketch import heavy_hitters

    df = spark.createDataFrame(
        [(i % 7,) for i in range(1000)], "value long").repartition(4)
    hh = heavy_hitters(df, "value", k=3)
    s = plans.explain_str(hh)
    assert "BroadcastHashJoin" in s, s
    assert "SortMergeJoin" not in s and "ShuffledHashJoin" not in s, s


def test_choose_skew_strategy_routes_by_measurement(spark):
    """The documented auto-path measures, then routes: a 60%-hot key
    routes to salting; a uniform key stays plain; a non-salt-safe join
    type stays plain even when skewed."""
    from drill_spark.ops.scale import choose_skew_strategy

    skewed = spark.range(0, 3000).select(
        F.when(F.col("id") % 3 != 0, F.lit(1))
        .otherwise(F.pmod("id", 100)).alias("k"))
    uniform = spark.range(0, 3000).select(F.pmod("id", 100).alias("k"))
    d = choose_skew_strategy(skewed, ["k"])
    assert d["strategy"] == "salted" and d["skew"] > 4 and d["key"] == "1"
    assert d["share"] > 0.3  # the single-key share that melts a join
    assert choose_skew_strategy(uniform, ["k"])["strategy"] == "plain"
    assert choose_skew_strategy(skewed, ["k"], how="full")["strategy"] == "plain"


def test_auto_skew_join_equals_plain_join(spark):
    """Result-set equality of the auto-path with the plain join on a
    deliberately skewed fact (one key ~2/3 of rows)."""
    from drill_spark.ops.scale import auto_skew_join

    fact = spark.range(0, 30_000).select(
        F.when(F.col("id") % 3 != 0, F.lit(1).cast("long"))
        .otherwise(F.pmod("id", 100)).alias("k"),
        (F.col("id") % 997).alias("v"))
    dim = spark.range(0, 100).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), "id").alias("tag"))
    plain = fact.join(dim, ["k"]).groupBy("tag").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    auto = auto_skew_join(fact, dim, ["k"]).groupBy("tag").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, auto.collect()))


def test_aqe_skew_join_split(spark):
    """Affirmative runtime-skew evidence: on a plain sort-merge join
    over a fact whose hottest key holds ~2/3 of all rows, Spark's AQE
    OptimizeSkewedJoin must SPLIT the oversized partition (skew=true in
    the final adaptive plan) — the behavior that keeps a 100 TB join
    alive when one key is pathological. Thresholds are lowered to make
    the MB-scale fixture cross the same relative bar a 100 TB hot
    partition would."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(0, 400_000).select(
            F.when(F.col("id") % 3 != 0, F.lit(1).cast("long"))
            .otherwise(F.pmod("id", 100)).alias("k"),
            (F.col("id") % 997).alias("v"))
        dim = spark.range(0, 100).select(
            F.col("id").alias("k"),
            F.concat(F.lit("d"), "id").alias("tag"))
        joined = fact.join(dim, ["k"]).select("k", "v", "tag")
        # execute THIS DataFrame (count() would be a separate query
        # execution and the join's adaptive plan would never finalize)
        assert len(joined.collect()) == 400_000  # every fact row matches once
        s = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in s or "skewed" in s, s
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_topk_equals_plain_topk(spark):
    """The two-stage salted window must produce exactly the plain
    per-key top-k (global top-k is contained in the union of per-salt
    top-k's), including on a 60%-hot key; unique order values make the
    comparison tie-free."""
    from pyspark.sql import Window

    from drill_spark.ops.scale import salted_topk

    df = spark.range(0, 20_000).select(
        F.when(F.col("id") % 3 != 0, F.lit(1).cast("long"))
        .otherwise(F.pmod("id", 50)).alias("k"),
        F.col("id").alias("v"))  # v unique -> deterministic ties
    w = Window.partitionBy("k").orderBy(F.desc("v"))
    plain = (df.withColumn("rank", F.row_number().over(w))
             .where(F.col("rank") <= 7))
    salted = salted_topk(df, ["k"], "v", k=7, salt=8)
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))
    # ascending variant too
    plain_a = (df.withColumn(
        "rank", F.row_number().over(
            Window.partitionBy("k").orderBy(F.asc("v"))))
        .where(F.col("rank") <= 3))
    salted_a = salted_topk(df, ["k"], "v", k=3, ascending=True, salt=8)
    assert sorted(map(tuple, plain_a.collect())) == \
        sorted(map(tuple, salted_a.collect()))


def test_salted_topk_stage1_spreads_hot_key(spark):
    """Plan witness: stage 1's window partitions by (key, salt) — the
    exchange hashes on both columns, so the hot key spreads instead of
    serializing through one task."""
    from drill_spark.ops.scale import salted_topk

    df = spark.range(0, 1000).select(
        F.lit(1).cast("long").alias("k"), F.col("id").alias("v"))
    out = salted_topk(df, ["k"], "v", k=5, salt=8)
    s = plans.explain_str(out)
    assert "_tk_salt" in s, s
