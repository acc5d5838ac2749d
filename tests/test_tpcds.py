"""TPC-DS q73 on fixture-derived star schema (reference:
exec/java-exec/src/test/resources/tpcds-sf1/q73.sql, run by
TestTpcdsSf1Queries.java; the repeated-run stability test mirrors
TestTpcdsSf1Leaks.java's rerun-the-query leak canary)."""

from __future__ import annotations

from __spark_entry__ import REGISTRY
from drill_spark import tpcds
from drill_spark.plans import explain_str

from .conftest import SF_DIR


def _run(spark):
    df = REGISTRY["tpcds_q73"].build(spark, SF_DIR)
    return sorted(map(tuple, df.collect()))


def test_q73_shape_and_filters(spark):
    rows = _run(spark)
    assert rows, "q73 must match rows on the fixture-derived schema"
    assert len(rows) <= 1000
    for r in rows:
        assert 1 <= r[5] <= 5           # cnt between 1 and 5
        assert r[2] in ("Mr.", "Ms.")   # salutation domain
        assert r[3] in ("Y", "N")


def test_q73_plan_is_broadcast_star(spark):
    """The three constant-size dimensions and the date spine must
    broadcast; the top-1000 must be TakeOrdered, not a global sort."""
    df = REGISTRY["tpcds_q73"].build(spark, SF_DIR)
    phys = explain_str(df)
    assert phys.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in phys
    assert "TakeOrderedAndProject" in phys


def test_q73_repeated_runs_stable(spark):
    """TestTpcdsSf1Leaks analog: rerun the query and require (a)
    identical results and (b) post-GC JVM heap growth bounded — a
    leaking plan (accumulated broadcasts / un-freed pages) trips the
    bound after a few reruns."""
    jvm_rt = spark._jvm.java.lang.Runtime.getRuntime()

    def used_heap():
        jvm_rt.gc()
        return jvm_rt.totalMemory() - jvm_rt.freeMemory()

    first = _run(spark)
    base = used_heap()
    for _ in range(3):
        assert _run(spark) == first
    growth = used_heap() - base
    assert growth < 512 * 1024 * 1024, f"heap grew {growth >> 20} MiB"


def test_q7_plan_is_four_dim_broadcast_star(spark):
    """q7 joins four constant-size dimensions: every one must
    broadcast, the aggregate must be partial+final on the fact, and
    top-100 must be TakeOrdered."""
    df = REGISTRY["tpcds_q07"].build(spark, SF_DIR)
    phys = explain_str(df)
    assert phys.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in phys
    assert "TakeOrderedAndProject" in phys


def test_q42_q52_agree_on_brand_totals(spark):
    """q42 (category) and q52 (brand) share the manager-1/Nov/2000
    slice, so their revenue totals over the slice must agree."""
    q42 = REGISTRY["tpcds_q42"].build(spark, SF_DIR).collect()
    q52 = REGISTRY["tpcds_q52"].build(spark, SF_DIR).collect()
    assert abs(sum(r["sum_ss"] for r in q42)
               - sum(r["ext_price"] for r in q52)) < 0.02 * max(len(q42), len(q52))


def test_q67_rollup_and_rank_shape(spark):
    """The rollup monster: every category's rows are rank<=10, the
    all-null grand-total row ranks 1 in the null category partition,
    and each category's rank-1 sumsales dominates its partition."""
    rows = REGISTRY["tpcds_q67"].build(spark, SF_DIR).collect()
    assert rows
    by_cat = {}
    for r in rows:
        assert r["rk"] <= 10
        by_cat.setdefault(r["i_category"], []).append(r)
    assert None in by_cat  # rollup grand-total level present
    for cat, rs in by_cat.items():
        top = max(x["sumsales"] for x in rs)
        assert all(x["sumsales"] <= top for x in rs)
        assert any(x["rk"] == 1 and x["sumsales"] == top for x in rs)


def test_q96_count_and_q68_city_mismatch(spark):
    cnt = REGISTRY["tpcds_q96"].build(spark, SF_DIR).first()["cnt"]
    assert cnt > 0  # the fixture slice must actually match
    rows = REGISTRY["tpcds_q68"].build(spark, SF_DIR).collect()
    assert rows and all(r["current_city"] != r["bought_city"]
                        for r in rows)
    phys = explain_str(REGISTRY["tpcds_q68"].build(spark, SF_DIR))
    assert phys.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in phys


def test_decorrelated_queries_plan_no_nested_loop(spark):
    """q1/q6/q30/q81's correlated scalar subqueries (`x > (select
    avg(x)*1.2 ... where same-key)`) must decorrelate into equi-joins
    on the correlation key — never a CartesianProduct or
    BroadcastNestedLoopJoin (the shape Drill's SUB_QUERY planner rules
    exist to avoid, PlannerPhase.java:134-141)."""
    for name in ("tpcds_q01", "tpcds_q06", "tpcds_q30", "tpcds_q81",
                 "tpcds_q32", "tpcds_q47"):
        df = REGISTRY[name].build(spark, SF_DIR)
        phys = explain_str(df)
        assert "CartesianProduct" not in phys, (name, phys)
        assert "BroadcastNestedLoopJoin" not in phys, (name, phys)
        # the correlated avg survives as an Aggregate joined back in
        assert "avg(" in phys or "Aggregate" in phys, name


def test_decorrelated_q1_threshold_is_exact(spark):
    """Replay q1's correlated threshold imperatively: every returned
    customer id must have a (customer, store) return total strictly
    above 1.2x that store's mean total, within the filtered county."""
    from pyspark.sql import functions as F

    tpcds._register_decorrelation_views(spark, SF_DIR)
    ctr = spark.sql("""
        select sr_customer_sk as cust, sr_store_sk as store,
               sum(sr_return_amt) as total
        from tpcds_store_returns, tpcds_date_dim
        where sr_returned_date_sk = d_date_sk and d_year = 2000
        group by 1, 2""")
    means = {r["store"]: r["m"] for r in
             ctr.groupBy("store").agg(F.avg("total").alias("m")).collect()}
    stores = {r["s_store_sk"] for r in spark.sql(
        "select s_store_sk from tpcds_store "
        "where s_county = 'Saginaw County'").collect()}
    qualifying = {f"C{r['cust']:08d}" for r in ctr.collect()
                  if r["store"] in stores
                  and r["total"] > 1.2 * means[r["store"]]}
    got = {r["c_customer_id"] for r in
           REGISTRY["tpcds_q01"].build(spark, SF_DIR).collect()}
    assert got <= qualifying and got


def test_exists_shapes_plan_semi_anti(spark):
    """q16's EXISTS/NOT EXISTS must decorrelate to left-semi and
    left-anti joins (never NLJ over the fact); q38/q71/q88 shapes must
    also stay free of cartesian products."""
    df = REGISTRY["tpcds_q16"].build(spark, SF_DIR)
    phys = explain_str(df)
    assert "LeftSemi" in phys, phys
    assert "LeftAnti" in phys, phys
    assert "CartesianProduct" not in phys, phys
    for name in ("tpcds_q38", "tpcds_q71", "tpcds_q88"):
        p = explain_str(REGISTRY[name].build(spark, SF_DIR))
        assert "CartesianProduct" not in p, (name, p)


def test_q44_two_sided_rank_join(spark):
    """q44 shape: the ascending and descending rank CTEs over the same
    HAVING-filtered aggregate join on rnk; ranks 1..10 each appear
    exactly once, and the best/worst name columns are mirror images
    (rank k ascending = rank n-k+1 descending over unique ranks)."""
    df = REGISTRY["tpcds_q44"].build(spark, SF_DIR)
    rows = df.collect()
    assert [r.rnk for r in rows] == list(range(1, 11))
    assert len({r.best_performing for r in rows}) == 10
    phys = explain_str(df)
    assert "CartesianProduct" not in phys, phys


def test_q70_rollup_rank_within_parent(spark):
    """q70 shape: grouping()-derived hierarchy level partitions the
    rank. Level-2 is the single grand total; level-1 ranks the top-5
    counties 1..n uniquely; each county's level-0 city ranks restart
    at 1; and each level-1 total equals the sum of its level-0 rows."""
    rows = REGISTRY["tpcds_q70"].build(spark, SF_DIR).collect()
    by_level = {}
    for r in rows:
        by_level.setdefault(r.lochierarchy, []).append(r)
    assert len(by_level[2]) == 1 and by_level[2][0].rank_within_parent == 1
    counties = by_level[1]
    assert 1 <= len(counties) <= 5
    assert sorted(r.rank_within_parent for r in counties) == list(
        range(1, len(counties) + 1))
    for c in counties:
        cities = [r for r in by_level[0] if r.s_county == c.s_county]
        assert cities and min(r.rank_within_parent for r in cities) == 1
        assert sum(r.total_cents for r in cities) == c.total_cents
    assert by_level[2][0].total_cents == sum(r.total_cents for r in counties)


def test_q23_best_customer_gate(spark):
    """q23 shape: replay the 50%-of-max scalar gate imperatively —
    every customer admitted by the IN gate must have lifetime cents
    above half the best customer's; the gated month total can never
    exceed the ungated month total."""
    from pyspark.sql import functions as F

    tpcds._register_decorrelation_views(spark, SF_DIR)
    cents = (F.round(F.col("ss_sales_price") * 100, 0).cast("bigint")
             * F.col("ss_quantity"))
    csales = (spark.table("tpcds_store_sales")
              .groupBy("ss_customer_sk").agg(F.sum(cents).alias("s")))
    mx = csales.agg(F.max("s")).first()[0]
    n_best = csales.where(F.col("s") > 0.5 * mx).count()
    assert 0 < n_best < csales.count()
    row = REGISTRY["tpcds_q23"].build(spark, SF_DIR).first()
    assert row.sales_cents > 0 and row.n_rows > 0
    phys = explain_str(REGISTRY["tpcds_q23"].build(spark, SF_DIR))
    assert "CartesianProduct" not in phys, phys


def test_q51_cumulative_overtake(spark):
    """q51 shape: web_cumulative/store_cumulative must be running maxes
    of per-channel cumulative sums — non-decreasing per item, and every
    output row has web strictly ahead."""
    rows = REGISTRY["tpcds_q51"].build(spark, SF_DIR).collect()
    assert rows
    last = {}
    for r in rows:                      # ordered by (item_sk, dsk)
        assert r.web_cumulative > r.store_cumulative
        if r.item_sk in last:
            pw, ps = last[r.item_sk]
            assert r.web_cumulative >= pw and r.store_cumulative >= ps
        last[r.item_sk] = (r.web_cumulative, r.store_cumulative)


def test_q11_growth_ratio_shape(spark):
    """q11 shape: every returned customer has positive first-year
    totals in both channels and a strictly greater web growth ratio;
    output is the first 100 customers by key (deterministic LIMIT)."""
    rows = REGISTRY["tpcds_q11"].build(spark, SF_DIR).collect()
    assert rows
    assert [r.customer_sk for r in rows] == sorted(
        r.customer_sk for r in rows)
    for r in rows:
        assert r.store_first > 0 and r.web_first > 0
        assert r.web_second / r.web_first > r.store_second / r.store_first


def test_r12_shapes_plan_no_cartesian(spark):
    """The r12 shape classes (q14 INTERSECT iceberg, q64 two-pass
    big-join self-join, q78 left-join null-guard netting, q59
    week-over-week pivot, q65 per-store threshold, q75 prior-year
    decline, q76 null-key union) must all plan as equi-joins — no
    cartesian products, no nested-loop joins. q90 is excluded by
    design: its two single-row scalar aggregates cross-join 1x1."""
    for name in ("tpcds_q14", "tpcds_q64", "tpcds_q78", "tpcds_q59",
                 "tpcds_q65", "tpcds_q75", "tpcds_q76"):
        phys = explain_str(REGISTRY[name].build(spark, SF_DIR))
        assert "CartesianProduct" not in phys, (name, phys)
        assert "BroadcastNestedLoopJoin" not in phys, (name, phys)


def test_q78_null_guard_excludes_returned(spark):
    """q78's netting contract: a (ticket, item) that appears in
    store_returns must contribute NOTHING to the store-side sums —
    the left-join-null-guard is an anti-join, not a count trick."""
    from pyspark.sql import functions as F

    tpcds._register_decorrelation_views(spark, SF_DIR)
    returned = spark.sql("""
        select distinct ss_item_sk as item, ss_customer_sk as cust,
               cast(ss_quantity as bigint) as q
        from tpcds_store_sales
        join tpcds_store_returns
          on sr_ticket_number = ss_ticket_number
         and ss_item_sk = sr_item_sk
        join tpcds_date_dim on ss_sold_date_sk = d_date_sk
        where d_year = 1999""")
    kept = spark.sql("""
        select ss_item_sk as item, ss_customer_sk as cust,
               sum(cast(ss_quantity as bigint)) as q
        from tpcds_store_sales
        left join tpcds_store_returns
          on sr_ticket_number = ss_ticket_number
         and ss_item_sk = sr_item_sk
        join tpcds_date_dim on ss_sold_date_sk = d_date_sk
        where sr_ticket_number is null and d_year = 1999
        group by 1, 2""")
    # the netted totals never exceed the un-netted totals, and some
    # (item, cust) groups shrink (returns exist in the fixture)
    full = spark.sql("""
        select ss_item_sk as item, ss_customer_sk as cust,
               sum(cast(ss_quantity as bigint)) as q
        from tpcds_store_sales
        join tpcds_date_dim on ss_sold_date_sk = d_date_sk
        where d_year = 1999 group by 1, 2""")
    j = (full.alias("f")
         .join(kept.alias("k"), ["item", "cust"], "left")
         .select("item", "cust", F.col("f.q").alias("fq"),
                 F.coalesce(F.col("k.q"), F.lit(0)).alias("kq")))
    rows = j.collect()
    assert rows and all(r.kq <= r.fq for r in rows)
    assert any(r.kq < r.fq for r in rows)
    assert returned.count() > 0


def test_q9_scalar_buckets_and_q90_ratio(spark):
    """q9 returns exactly one row of five bucket statistics (each a
    scalar CASE over two scalar subqueries); q90's ratio equals the
    two counts it reports, floored to 4 decimals."""
    r9 = REGISTRY["tpcds_q09"].build(spark, SF_DIR).collect()
    assert len(r9) == 1 and len(r9[0]) == 5
    assert all(v is not None and v >= 0 for v in r9[0])

    r90 = REGISTRY["tpcds_q90"].build(spark, SF_DIR).collect()
    assert len(r90) == 1
    amc, pmc, ratio = r90[0].amc, r90[0].pmc, r90[0].am_pm_ratio
    import math
    if pmc:
        assert ratio == math.floor(amc / pmc * 10000) / 10000
    else:
        assert ratio is None


def test_q14_cross_items_is_three_channel_intersection(spark):
    """Every (brand, class, category) triple q14 reports must have
    sold through ALL THREE channels in 1999 — the INTERSECT contract
    replayed imperatively."""
    tpcds._register_decorrelation_views(spark, SF_DIR)

    def triples(sql):
        return {(r.b, r.c, r.g) for r in spark.sql(sql).collect()}

    store = triples("""
        select distinct i_brand_id b, i_class_id c, i_category_id g
        from tpcds_store_sales, tpcds_item, tpcds_date_dim
        where ss_item_sk = i_item_sk and ss_sold_date_sk = d_date_sk
          and d_year = 1999""")
    cat = triples("""
        select distinct i_brand_id b, i_class_id c, i_category_id g
        from tpcds_catalog_sales, tpcds_item, tpcds_date_dim
        where cs_item_sk = i_item_sk and cs_sold_date_sk = d_date_sk
          and d_year = 1999""")
    web = triples("""
        select distinct i_brand_id b, i_class_id c, i_category_id g
        from tpcds_web_sales, tpcds_item, tpcds_date_dim
        where ws_item_sk = i_item_sk and ws_sold_date_sk = d_date_sk
          and d_year = 1999""")
    allowed = store & cat & web
    got = REGISTRY["tpcds_q14"].build(spark, SF_DIR).collect()
    assert got
    assert {(r.i_brand_id, r.i_class_id, r.i_category_id)
            for r in got} <= allowed


def test_q14_drops_its_view_and_matches_oracle(spark, duck):
    """q14 publishes its materialized cross_items under a per-invocation
    name and drops it once the consumer is analyzed: no tpcds_q14_*
    view is left, and the result still counts what the oracle counts."""
    df = REGISTRY["tpcds_q14"].build(spark, SF_DIR)
    assert not [t.name for t in spark.catalog.listTables()
                if t.name.startswith("tpcds_q14_")]
    want = duck.execute(
        f"select count(*) from ({REGISTRY['tpcds_q14'].oracle})").fetchone()[0]
    assert df.count() == want


def test_r13_shapes_plan_no_cartesian(spark):
    """The r13 shape classes (q4 three-channel YoY six-way self-join,
    q35 OR-of-EXISTS demographics, q43 day-of-week pivot, q48
    OR-of-AND bands, q53 window-deviation QUALIFY, q62 ship-lag
    buckets, q72 inventory mega-join, q87 three-channel EXCEPT, q98
    class-share window) must all plan as equi-joins. q61 is excluded
    by design: its two single-row scalar aggregates cross-join 1x1
    (the q90 precedent)."""
    for name in ("tpcds_q04", "tpcds_q35", "tpcds_q43", "tpcds_q48",
                 "tpcds_q53", "tpcds_q62", "tpcds_q72", "tpcds_q87",
                 "tpcds_q98"):
        phys = explain_str(REGISTRY[name].build(spark, SF_DIR))
        assert "CartesianProduct" not in phys, (name, phys)
        assert "BroadcastNestedLoopJoin" not in phys, (name, phys)


def test_q87_except_is_store_only(spark):
    """q87's count must equal the imperative set difference: distinct
    store (customer, week) pairs minus web pairs minus catalog
    pairs."""
    tpcds._register_decorrelation_views(spark, SF_DIR)

    def pairs(fact, date_col, cust_col):
        return {
            (r.cid, r.wk)
            for r in spark.sql(f"""
                select distinct c.c_customer_id as cid,
                       d.d_week_seq as wk
                from {fact} f, tpcds_date_dim d, tpcds_cust c
                where f.{date_col} = d.d_date_sk
                  and f.{cust_col} = c.c_customer_sk
                  and d.d_year = 2000""").collect()
        }

    store = pairs("tpcds_store_sales", "ss_sold_date_sk",
                  "ss_customer_sk")
    web = pairs("tpcds_web_sales", "ws_sold_date_sk",
                "ws_bill_customer_sk")
    cat = pairs("tpcds_catalog_sales", "cs_sold_date_sk",
                "cs_bill_customer_sk")
    want = len(store - web - cat)
    got = REGISTRY["tpcds_q87"].build(spark, SF_DIR).collect()[0][0]
    assert got == want
    assert 0 < got < len(store)  # the difference actually excludes


def test_q72_inventory_shortage_contract(spark):
    """Every q72 group counts only sales weeks where SOME inventory
    snapshot in the same week held less stock than the order quantity
    — replay the gate for the top group, and require the promo split
    to sum to the total."""
    rows = REGISTRY["tpcds_q72"].build(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.no_promo + r.promo == r.total_cnt
        assert r.total_cnt >= 1
    # week_seq values must come from the 1999 sold-date slice
    tpcds._register_decorrelation_views(spark, SF_DIR)
    weeks_1999 = {
        r.wk for r in spark.sql(
            "select distinct d_week_seq as wk from tpcds_date_dim "
            "where d_year = 1999").collect()
    }
    assert all(r.d_week_seq in weeks_1999 for r in rows)


def test_q4_growth_condition_replay(spark):
    """Every customer q4 reports must have positive 1999 totals in
    all three channels and catalog growth strictly above BOTH store
    and web growth — replayed with exact integer cross-products."""
    tpcds._register_decorrelation_views(spark, SF_DIR)
    got = {r.c_customer_id
           for r in REGISTRY["tpcds_q04"].build(spark, SF_DIR).collect()}
    tot = {}
    for chan, sql in (
        ("s", "select ss_customer_sk as c, d_year as yr, "
              "sum(cast(round(ss_sales_price*100,0) as bigint)) as v "
              "from tpcds_store_sales, tpcds_date_dim "
              "where ss_sold_date_sk = d_date_sk "
              "and d_year in (1999,2000) group by 1,2"),
        ("w", "select ws_bill_customer_sk, d_year, sum(ws_sales_cents) "
              "from tpcds_web_sales, tpcds_date_dim "
              "where ws_sold_date_sk = d_date_sk "
              "and d_year in (1999,2000) group by 1,2"),
        ("c", "select cs_bill_customer_sk, d_year, sum(cs_sales_cents) "
              "from tpcds_catalog_sales, tpcds_date_dim "
              "where cs_sold_date_sk = d_date_sk "
              "and d_year in (1999,2000) group by 1,2"),
    ):
        for r in spark.sql(sql).collect():
            tot[(chan, r[0], r[1])] = r[2]
    want = set()
    custs = {k[1] for k in tot}
    for c in custs:
        s1, s2 = tot.get(("s", c, 1999)), tot.get(("s", c, 2000))
        w1, w2 = tot.get(("w", c, 1999)), tot.get(("w", c, 2000))
        c1, c2 = tot.get(("c", c, 1999)), tot.get(("c", c, 2000))
        if None in (s1, s2, w1, w2, c1, c2):
            continue
        if (s1 > 0 and c1 > 0 and w1 > 0
                and c2 * s1 > s2 * c1 and c2 * w1 > w2 * c1):
            want.add(f"C{c:08d}")
    assert got == set(sorted(want)[:100])
