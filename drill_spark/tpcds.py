"""TPC-DS coverage on the driver fixtures.

Reference: exec/java-exec/src/test/resources/tpcds-sf1/q73.sql (run by
TestTpcdsSf1Queries.java / TestTpcdsSf1Leaks.java). The container ships
no TPC-DS generator, so the star-schema inputs are DERIVED from the
TPC-H fixtures with closed-form arithmetic — identically on the Spark
side (DataFrame API) and in the DuckDB oracle (CTEs) — keeping the
correctness row a true cross-engine hash check of the q73 plan shape:
a multi-way dimension-filtered join, a two-key aggregate, a HAVING-like
range filter on the count, and a customer join with top-N.

Scale shape: the three dimension frames are tiny (constant-size) →
broadcast joins; the fact scan aggregates on (ticket, customer) with
map-side partials; the final order by cnt is a TakeOrdered top-1000,
never a global sort.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drill_spark.registry import Query
from drill_spark.session import load_fixture

_COUNTIES = [
    "Saginaw County", "Sumner County", "Appanoose County",
    "Daviess County", "Ziebach County", "Walker County",
    "Richland County", "Williamson County",
]


def _store_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact table derived from lineitem⋈orders: the natural 1..7
    lineitem multiplicity per orderkey gives count(*) the spread q73's
    `cnt between 1 and 5` filter needs."""
    li = load_fixture(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_partkey",
        "l_extendedprice", "l_quantity", "l_discount", "l_tax")
    orders = load_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_orderkey").alias("ss_ticket_number"),
            F.col("o_custkey").alias("ss_customer_sk"),
            (F.lit(2451180) + F.col("l_orderkey") % 120).alias("ss_sold_date_sk"),
            (F.col("l_suppkey") % 10).alias("ss_store_sk"),
            ((F.col("l_orderkey") + F.col("l_linenumber")) % 50).alias("ss_hdemo_sk"),
            (F.col("l_partkey") % 200).alias("ss_item_sk"),
            F.col("l_extendedprice").alias("ss_ext_sales_price"),
            F.col("l_quantity").cast("int").alias("ss_quantity"),
            # floor-to-cents, not round: round()'s half-way tie-breaking
            # on doubles differs between engines; floor of the same IEEE
            # double is bit-deterministic.
            (F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100)
             / 100.0).alias("ss_list_price"),
            (F.floor(F.col("l_extendedprice") / F.col("l_quantity")
                     * (1 - F.col("l_discount")) * 100) / 100.0)
            .alias("ss_sales_price"),
            (F.floor(F.col("l_extendedprice") * F.col("l_discount") * 100)
             / 100.0).alias("ss_coupon_amt"),
            ((F.col("l_orderkey") * 7 + F.col("l_partkey")) % 100)
            .alias("ss_cdemo_sk"),
            ((F.col("l_partkey") + F.col("l_suppkey")) % 30)
            .alias("ss_promo_sk"),
            ((F.col("l_orderkey") * 3 + F.col("l_linenumber")) % 600)
            .alias("ss_sold_time_sk"),
            ((F.col("o_custkey") * 11 + F.col("l_orderkey")) % 400)
            .alias("ss_addr_sk"),
            (F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100)
             / 100.0 * F.col("l_quantity")).alias("ss_ext_list_price"),
            (F.floor(F.col("l_extendedprice") * F.col("l_tax") * 100)
             / 100.0).alias("ss_ext_tax"),
        )
    )


def _date_dim(spark: SparkSession) -> DataFrame:
    return spark.sql(
        "select d_date_sk, 1998 + cast(d_date_sk % 5 as int) as d_year, "
        "1 + cast(d_date_sk % 12 as int) as d_moy, "
        "1 + cast(floor((d_date_sk % 12) / 3) as int) as d_qoy, "
        "cast(d_date_sk % 200 as int) as d_month_seq, "
        "cast(d_date_sk % 7 as int) as d_dow, "
        "cast(floor(d_date_sk / 7) as int) as d_week_seq "
        "from (select explode(sequence(2451000, 2451499)) as d_date_sk)")


_STATES = ["TN", "GA", "SC", "MI", "OH", "TX", "CA",
           "WA", "NY", "ME", "VA", "IL", "KY"]


def _item(spark: SparkSession) -> DataFrame:
    return spark.sql(
        "select id as i_item_sk, "
        "cast(id % 90 + 10 as double) as i_current_price, "
        "cast(id % 37 as int) + 1 as i_brand_id, "
        "'Brand#' || cast(cast(id % 37 as int) + 1 as string) as i_brand, "
        "cast(id % 50 as int) + 1 as i_manufact_id, "
        "cast(id % 100 as int) + 1 as i_manager_id, "
        "cast(id % 10 as int) + 1 as i_category_id, "
        "'Category#' || cast(cast(id % 10 as int) + 1 as string) as i_category, "
        "'Item#' || lpad(cast(id as string), 6, '0') as i_item_id, "
        "'Class#' || cast(cast(id % 5 as int) + 1 as string) as i_class, "
        "cast(id % 5 as int) + 1 as i_class_id, "
        "'Prod#' || lpad(cast(id as string), 6, '0') as i_product_name "
        "from (select explode(sequence(0, 199)) as id)")


def _customer_demographics(spark: SparkSession) -> DataFrame:
    return spark.sql(
        "select id as cd_demo_sk, "
        "case cast(id % 2 as int) when 0 then 'M' else 'F' end as cd_gender, "
        "case cast(id % 3 as int) when 0 then 'S' when 1 then 'M' "
        "     else 'D' end as cd_marital_status, "
        "case cast(id % 4 as int) when 0 then 'College' "
        "     when 1 then '4 yr Degree' when 2 then 'Primary' "
        "     else 'Secondary' end as cd_education_status, "
        "cast(id % 7 as int) as cd_dep_count "
        "from (select explode(sequence(0, 99)) as id)")


def _promotion(spark: SparkSession) -> DataFrame:
    return spark.sql(
        "select id as p_promo_sk, "
        "case cast(id % 3 as int) when 0 then 'Y' else 'N' end "
        "  as p_channel_email, "
        "case cast(id % 5 as int) when 0 then 'Y' else 'N' end "
        "  as p_channel_event "
        "from (select explode(sequence(0, 29)) as id)")


def _store(spark: SparkSession) -> DataFrame:
    counties = ", ".join(f"'{c}'" for c in _COUNTIES)
    return spark.sql(
        f"select id as s_store_sk, "
        f"element_at(array({counties}), cast(id % 8 as int) + 1) as s_county, "
        f"'S' || lpad(cast(id as string), 3, '0') as s_store_id, "
        f"case cast(id % 3 as int) when 0 then 'ese' when 1 then 'ought' "
        f"     else 'able' end as s_store_name, "
        f"'City#' || cast(cast(id % 6 as int) as string) as s_city "
        f"from (select explode(sequence(0, 9)) as id)")


def _time_dim(spark: SparkSession) -> DataFrame:
    return spark.sql(
        "select id as t_time_sk, "
        "cast(id % 24 as int) as t_hour, "
        "cast((id * 7) % 60 as int) as t_minute "
        "from (select explode(sequence(0, 599)) as id)")


def _customer_address(spark: SparkSession) -> DataFrame:
    states = ", ".join(f"'{s}'" for s in _STATES)
    return spark.sql(
        f"select id as ca_address_sk, "
        f"'City#' || cast(cast(id % 40 as int) as string) as ca_city, "
        f"element_at(array({states}), cast(id % 13 as int) + 1) as ca_state "
        f"from (select explode(sequence(0, 399)) as id)")


def _household_demographics(spark: SparkSession) -> DataFrame:
    return spark.sql(
        "select id as hd_demo_sk, "
        "case cast(id % 3 as int) when 0 then '>10000' "
        "     when 1 then 'unknown' else '5001-10000' end as hd_buy_potential, "
        "cast(id % 4 as int) as hd_vehicle_count, "
        "cast(id % 9 as int) as hd_dep_count "
        "from (select explode(sequence(0, 49)) as id)")


def _customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_fixture(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("c_customer_sk"),
        F.concat(F.lit("C"),
                 F.lpad(F.col("c_custkey").cast("string"), 8, "0"))
        .alias("c_customer_id"),
        F.col("c_name").alias("c_last_name"),
        F.substring("c_name", 1, 9).alias("c_first_name"),
        F.when(F.col("c_custkey") % 2 == 0, "Mr.").otherwise("Ms.")
        .alias("c_salutation"),
        F.when(F.col("c_custkey") % 3 == 0, "Y").otherwise("N")
        .alias("c_preferred_cust_flag"),
        (F.col("c_custkey") * 13 % 400).alias("c_current_addr_sk"),
        (F.col("c_custkey") % 100).alias("c_current_cdemo_sk"),
    )


def _warehouse(spark: SparkSession) -> DataFrame:
    return spark.sql(
        "select id as w_warehouse_sk, "
        "'Warehouse#' || cast(id as string) as w_warehouse_name "
        "from (select explode(sequence(0, 4)) as id)")


def _inventory(spark: SparkSession) -> DataFrame:
    """Weekly on-hand snapshots: one row per (week-grid date, item,
    warehouse) with a closed-form quantity — the q72 fact. ~71k rows:
    a constant-size derived table, identical arithmetic on the DuckDB
    side."""
    return spark.sql(
        "select d as inv_date_sk, i as inv_item_sk, w as inv_warehouse_sk, "
        "cast((d * 3 + i * 7 + w * 11) % 40 as int) "
        "  as inv_quantity_on_hand "
        "from (select 2451000 + 7 * cast(floor(id / 1000) as int) as d, "
        "             cast(floor((id % 1000) / 5) as int) as i, "
        "             cast(id % 5 as int) as w "
        "      from (select explode(sequence(0, 71999)) as id))")


def q_tpcds_q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q73: households with >1 dependents-per-vehicle buying in four
    counties, grouped per (ticket, customer), 1..5-item baskets joined
    back to customer, top 1000 by basket size."""
    ss = _store_sales(spark, sf_dir)
    d = _date_dim(spark)
    s = _store(spark)
    hd = _household_demographics(spark)
    c = _customer(spark, sf_dir)

    dj = (
        ss.join(F.broadcast(d), ss.ss_sold_date_sk == d.d_date_sk)
        .join(F.broadcast(s), ss.ss_store_sk == s.s_store_sk)
        .join(F.broadcast(hd), ss.ss_hdemo_sk == hd.hd_demo_sk)
        .where(
            (F.col("hd_buy_potential").isin(">10000", "unknown"))
            & (F.col("hd_vehicle_count") > 0)
            & (
                F.when(F.col("hd_vehicle_count") > 0,
                       F.col("hd_dep_count") / F.col("hd_vehicle_count"))
                .otherwise(F.lit(None)) > 1)
            & (F.col("s_county").isin(*_COUNTIES[:4]))
            & (F.col("ss_sold_date_sk").between(2451180, 2451269))
        )
        .groupBy("ss_ticket_number", "ss_customer_sk")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt").between(1, 5))
        .withColumnRenamed("ss_ticket_number", "sstn")
        .withColumnRenamed("ss_customer_sk", "sscsk")
    )
    out = (
        dj.join(c, dj.sscsk == c.c_customer_sk)
        .select("c_last_name", "c_first_name", "c_salutation",
                "c_preferred_cust_flag", "sstn", "cnt")
        .orderBy(F.desc("cnt"), "sstn")   # sstn tiebreak: deterministic hash
        .limit(1000)
    )
    return out


_COUNTY_SQL = ", ".join(f"'{c}'" for c in _COUNTIES)
_STATES_SQL = "', '".join(_STATES)

# Shared DuckDB CTE block — must stay the exact twin of the DataFrame
# derivations above.
_DIMS_SQL = f"""
with store_sales as (
  select l.l_orderkey as ss_ticket_number,
         o.o_custkey as ss_customer_sk,
         2451180 + l.l_orderkey % 120 as ss_sold_date_sk,
         l.l_suppkey % 10 as ss_store_sk,
         (l.l_orderkey + l.l_linenumber) % 50 as ss_hdemo_sk,
         l.l_partkey % 200 as ss_item_sk,
         l.l_extendedprice as ss_ext_sales_price,
         cast(l.l_quantity as int) as ss_quantity,
         floor(l.l_extendedprice / l.l_quantity * 100) / 100.0
           as ss_list_price,
         floor(l.l_extendedprice / l.l_quantity * (1 - l.l_discount) * 100)
           / 100.0 as ss_sales_price,
         floor(l.l_extendedprice * l.l_discount * 100) / 100.0
           as ss_coupon_amt,
         (l.l_orderkey * 7 + l.l_partkey) % 100 as ss_cdemo_sk,
         (l.l_partkey + l.l_suppkey) % 30 as ss_promo_sk,
         (l.l_orderkey * 3 + l.l_linenumber) % 600 as ss_sold_time_sk,
         (o.o_custkey * 11 + l.l_orderkey) % 400 as ss_addr_sk,
         floor(l.l_extendedprice / l.l_quantity * 100) / 100.0
           * l.l_quantity as ss_ext_list_price,
         floor(l.l_extendedprice * l.l_tax * 100) / 100.0 as ss_ext_tax
  from lineitem l join orders o on l.l_orderkey = o.o_orderkey
),
date_dim as (
  select d_date_sk, 1998 + cast(d_date_sk % 5 as int) as d_year,
         1 + cast(d_date_sk % 12 as int) as d_moy,
         1 + cast(floor((d_date_sk % 12) / 3) as int) as d_qoy,
         cast(d_date_sk % 200 as int) as d_month_seq,
         cast(d_date_sk % 7 as int) as d_dow,
         cast(floor(d_date_sk / 7) as int) as d_week_seq
  from (select unnest(generate_series(2451000, 2451499)) as d_date_sk)
),
item as (
  select id as i_item_sk,
         cast(id % 90 + 10 as double) as i_current_price,
         cast(id % 37 as int) + 1 as i_brand_id,
         'Brand#' || cast(cast(id % 37 as int) + 1 as varchar) as i_brand,
         cast(id % 50 as int) + 1 as i_manufact_id,
         cast(id % 100 as int) + 1 as i_manager_id,
         cast(id % 10 as int) + 1 as i_category_id,
         'Category#' || cast(cast(id % 10 as int) + 1 as varchar)
           as i_category,
         'Item#' || lpad(cast(id as varchar), 6, '0') as i_item_id,
         'Class#' || cast(cast(id % 5 as int) + 1 as varchar) as i_class,
         cast(id % 5 as int) + 1 as i_class_id,
         'Prod#' || lpad(cast(id as varchar), 6, '0') as i_product_name
  from (select unnest(generate_series(0, 199)) as id)
),
customer_demographics as (
  select id as cd_demo_sk,
         case cast(id % 2 as int) when 0 then 'M' else 'F' end as cd_gender,
         case cast(id % 3 as int) when 0 then 'S' when 1 then 'M'
              else 'D' end as cd_marital_status,
         case cast(id % 4 as int) when 0 then 'College'
              when 1 then '4 yr Degree' when 2 then 'Primary'
              else 'Secondary' end as cd_education_status,
         cast(id % 7 as int) as cd_dep_count
  from (select unnest(generate_series(0, 99)) as id)
),
warehouse as (
  select id as w_warehouse_sk,
         'Warehouse#' || cast(id as varchar) as w_warehouse_name
  from (select unnest(generate_series(0, 4)) as id)
),
inventory as (
  select d as inv_date_sk, i as inv_item_sk, w as inv_warehouse_sk,
         cast((d * 3 + i * 7 + w * 11) % 40 as int)
           as inv_quantity_on_hand
  from (select 2451000 + 7 * cast(floor(id / 1000) as int) as d,
               cast(floor((id % 1000) / 5) as int) as i,
               cast(id % 5 as int) as w
        from (select unnest(generate_series(0, 71999)) as id))
),
promotion as (
  select id as p_promo_sk,
         case cast(id % 3 as int) when 0 then 'Y' else 'N' end
           as p_channel_email,
         case cast(id % 5 as int) when 0 then 'Y' else 'N' end
           as p_channel_event
  from (select unnest(generate_series(0, 29)) as id)
),
store as (
  select id as s_store_sk,
         ([{_COUNTY_SQL}])[cast(id % 8 as int) + 1] as s_county,
         'S' || lpad(cast(id as varchar), 3, '0') as s_store_id,
         case cast(id % 3 as int) when 0 then 'ese' when 1 then 'ought'
              else 'able' end as s_store_name,
         'City#' || cast(cast(id % 6 as int) as varchar) as s_city
  from (select unnest(generate_series(0, 9)) as id)
),
time_dim as (
  select id as t_time_sk,
         cast(id % 24 as int) as t_hour,
         cast((id * 7) % 60 as int) as t_minute
  from (select unnest(generate_series(0, 599)) as id)
),
customer_address as (
  select id as ca_address_sk,
         'City#' || cast(cast(id % 40 as int) as varchar) as ca_city,
         (['{_STATES_SQL}'])[cast(id % 13 as int) + 1] as ca_state
  from (select unnest(generate_series(0, 399)) as id)
),
household_demographics as (
  select id as hd_demo_sk,
         case cast(id % 3 as int) when 0 then '>10000'
              when 1 then 'unknown' else '5001-10000' end as hd_buy_potential,
         cast(id % 4 as int) as hd_vehicle_count,
         cast(id % 9 as int) as hd_dep_count
  from (select unnest(generate_series(0, 49)) as id)
),
cust as (
  select c_custkey as c_customer_sk,
         'C' || lpad(cast(c_custkey as varchar), 8, '0') as c_customer_id,
         c_name as c_last_name,
         substring(c_name, 1, 9) as c_first_name,
         case when c_custkey % 2 = 0 then 'Mr.' else 'Ms.' end as c_salutation,
         case when c_custkey % 3 = 0 then 'Y' else 'N' end as c_preferred_cust_flag,
         c_custkey * 13 % 400 as c_current_addr_sk,
         c_custkey % 100 as c_current_cdemo_sk
  from customer
)
"""

ORACLE_TPCDS_Q73 = _DIMS_SQL + f""",
dj as (
  select ss.ss_ticket_number as sstn, ss.ss_customer_sk as sscsk,
         cast(count(*) as bigint) as cnt
  from store_sales ss, date_dim d, store s, household_demographics hd
  where ss.ss_sold_date_sk = d.d_date_sk
    and ss.ss_store_sk = s.s_store_sk
    and ss.ss_hdemo_sk = hd.hd_demo_sk
    and (hd.hd_buy_potential = '>10000' or hd.hd_buy_potential = 'unknown')
    and hd.hd_vehicle_count > 0
    and case when hd.hd_vehicle_count > 0
             then cast(hd.hd_dep_count as double) / hd.hd_vehicle_count
             else null end > 1
    and s.s_county in ({", ".join(f"'{c}'" for c in _COUNTIES[:4])})
    and ss.ss_sold_date_sk between 2451180 and 2451269
  group by ss.ss_ticket_number, ss.ss_customer_sk
)
select c.c_last_name, c.c_first_name, c.c_salutation,
       c.c_preferred_cust_flag, dj.sstn, dj.cnt
from dj, cust c
where dj.sscsk = c.c_customer_sk
  and dj.cnt between 1 and 5
order by dj.cnt desc, dj.sstn
limit 1000
"""


def q_tpcds_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q3 (TPC-DS spec shape): brand-level November sales for one
    manufacturer across years — date/item broadcast, one partial-
    aggregated groupBy on the fact, TakeOrdered top-100."""
    ss = _store_sales(spark, sf_dir)
    d = _date_dim(spark)
    i = _item(spark)
    out = (
        ss.join(F.broadcast(d), ss.ss_sold_date_sk == d.d_date_sk)
        .join(F.broadcast(i), ss.ss_item_sk == i.i_item_sk)
        .where((F.col("i_manufact_id") == 25) & (F.col("d_moy") == 11))
        .groupBy("d_year", "i_brand_id", "i_brand")
        .agg(F.round(F.sum("ss_ext_sales_price"), 2).alias("sum_agg"))
        .orderBy("d_year", F.desc("sum_agg"), "i_brand_id")
        .limit(100)
        .select("d_year", F.col("i_brand_id").alias("brand_id"),
                F.col("i_brand").alias("brand"), "sum_agg")
    )
    return out


ORACLE_TPCDS_Q3 = _DIMS_SQL + """
select d_year, i_brand_id as brand_id, i_brand as brand,
       round(sum(ss_ext_sales_price), 2) as sum_agg
from date_dim, store_sales, item
where d_date_sk = ss_sold_date_sk and ss_item_sk = i_item_sk
  and i_manufact_id = 25 and d_moy = 11
group by d_year, i_brand_id, i_brand
order by d_year, sum_agg desc, brand_id
limit 100
"""


def q_tpcds_q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q55: one manager's brand revenue for one (year, month) — same
    broadcast-star shape, single-group filter."""
    ss = _store_sales(spark, sf_dir)
    d = _date_dim(spark)
    i = _item(spark)
    return (
        ss.join(F.broadcast(d), ss.ss_sold_date_sk == d.d_date_sk)
        .join(F.broadcast(i), ss.ss_item_sk == i.i_item_sk)
        .where((F.col("i_manager_id") == 13) & (F.col("d_moy") == 11)
               & (F.col("d_year") == 1999))
        .groupBy("i_brand_id", "i_brand")
        .agg(F.round(F.sum("ss_ext_sales_price"), 2).alias("ext_price"))
        .orderBy(F.desc("ext_price"), "i_brand_id")
        .limit(100)
        .select(F.col("i_brand_id").alias("brand_id"),
                F.col("i_brand").alias("brand"), "ext_price")
    )


ORACLE_TPCDS_Q55 = _DIMS_SQL + """
select i_brand_id as brand_id, i_brand as brand,
       round(sum(ss_ext_sales_price), 2) as ext_price
from date_dim, store_sales, item
where d_date_sk = ss_sold_date_sk and ss_item_sk = i_item_sk
  and i_manager_id = 13 and d_moy = 11 and d_year = 1999
group by i_brand_id, i_brand
order by ext_price desc, brand_id
limit 100
"""


def q_tpcds_q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q42: category-level November revenue for one manager-year —
    the same broadcast-star shape as q3 grouped on the category
    rollup columns."""
    ss = _store_sales(spark, sf_dir)
    d = _date_dim(spark)
    i = _item(spark)
    return (
        ss.join(F.broadcast(d), ss.ss_sold_date_sk == d.d_date_sk)
        .join(F.broadcast(i), ss.ss_item_sk == i.i_item_sk)
        .where((F.col("i_manager_id") == 1) & (F.col("d_moy") == 11)
               & (F.col("d_year") == 2000))
        .groupBy("d_year", "i_category_id", "i_category")
        .agg(F.round(F.sum("ss_ext_sales_price"), 2).alias("sum_ss"))
        .orderBy(F.desc("sum_ss"), "d_year", "i_category_id", "i_category")
        .limit(100)
        .select("d_year", "i_category_id", "i_category", "sum_ss")
    )


ORACLE_TPCDS_Q42 = _DIMS_SQL + """
select d_year, i_category_id, i_category,
       round(sum(ss_ext_sales_price), 2) as sum_ss
from date_dim, store_sales, item
where d_date_sk = ss_sold_date_sk and ss_item_sk = i_item_sk
  and i_manager_id = 1 and d_moy = 11 and d_year = 2000
group by d_year, i_category_id, i_category
order by sum_ss desc, d_year, i_category_id, i_category
limit 100
"""


def q_tpcds_q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q52: brand-level November revenue for one manager-year —
    q55's filter with q3's output shape."""
    ss = _store_sales(spark, sf_dir)
    d = _date_dim(spark)
    i = _item(spark)
    return (
        ss.join(F.broadcast(d), ss.ss_sold_date_sk == d.d_date_sk)
        .join(F.broadcast(i), ss.ss_item_sk == i.i_item_sk)
        .where((F.col("i_manager_id") == 1) & (F.col("d_moy") == 11)
               & (F.col("d_year") == 2000))
        .groupBy("d_year", "i_brand_id", "i_brand")
        .agg(F.round(F.sum("ss_ext_sales_price"), 2).alias("ext_price"))
        .orderBy("d_year", F.desc("ext_price"), "i_brand_id")
        .limit(100)
        .select("d_year", F.col("i_brand_id").alias("brand_id"),
                F.col("i_brand").alias("brand"), "ext_price")
    )


ORACLE_TPCDS_Q52 = _DIMS_SQL + """
select d_year, i_brand_id as brand_id, i_brand as brand,
       round(sum(ss_ext_sales_price), 2) as ext_price
from date_dim, store_sales, item
where d_date_sk = ss_sold_date_sk and ss_item_sk = i_item_sk
  and i_manager_id = 1 and d_moy = 11 and d_year = 2000
group by d_year, i_brand_id, i_brand
order by d_year, ext_price desc, brand_id
limit 100
"""


def q_tpcds_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q7: per-item average quantity / list price / coupon / sales
    price for one demographic slice, promotions excluded-by-channel —
    a four-dimension broadcast star with four AVG aggregates."""
    ss = _store_sales(spark, sf_dir)
    d = _date_dim(spark)
    i = _item(spark)
    cd = _customer_demographics(spark)
    p = _promotion(spark)
    return (
        ss.join(F.broadcast(d), ss.ss_sold_date_sk == d.d_date_sk)
        .join(F.broadcast(i), ss.ss_item_sk == i.i_item_sk)
        .join(F.broadcast(cd), ss.ss_cdemo_sk == cd.cd_demo_sk)
        .join(F.broadcast(p), ss.ss_promo_sk == p.p_promo_sk)
        .where((F.col("cd_gender") == "M")
               & (F.col("cd_marital_status") == "S")
               & (F.col("cd_education_status") == "College")
               & ((F.col("p_channel_email") == "N")
                  | (F.col("p_channel_event") == "N"))
               & (F.col("d_year") == 2000))
        .groupBy("i_item_id")
        .agg(F.round(F.avg("ss_quantity"), 4).alias("agg1"),
             _avg_money("ss_list_price").alias("agg2"),
             _avg_money("ss_coupon_amt").alias("agg3"),
             _avg_money("ss_sales_price").alias("agg4"))
        .orderBy("i_item_id")
        .limit(100)
    )


def _avg_money(col: str):
    """Cross-engine-exact money average: the 2-decimal fact columns sum
    as integer CENTS (exact in both engines regardless of accumulation
    order — a double float sum is not), divided once at the end.
    avg(ss_quantity) needs no such guard: integer sums are exact."""
    cents = F.sum(F.round(F.col(col) * 100, 0).cast("bigint")).cast("double")
    return F.round(cents / F.count(F.lit(1)) / 100.0, 4)


ORACLE_TPCDS_Q7 = _DIMS_SQL + """
select i_item_id,
       round(avg(ss_quantity), 4) as agg1,
       round(cast(sum(cast(round(ss_list_price * 100, 0) as bigint))
             as double) / count(*) / 100.0, 4) as agg2,
       round(cast(sum(cast(round(ss_coupon_amt * 100, 0) as bigint))
             as double) / count(*) / 100.0, 4) as agg3,
       round(cast(sum(cast(round(ss_sales_price * 100, 0) as bigint))
             as double) / count(*) / 100.0, 4) as agg4
from store_sales, customer_demographics, date_dim, item, promotion
where ss_sold_date_sk = d_date_sk and ss_item_sk = i_item_sk
  and ss_cdemo_sk = cd_demo_sk and ss_promo_sk = p_promo_sk
  and cd_gender = 'M' and cd_marital_status = 'S'
  and cd_education_status = 'College'
  and (p_channel_email = 'N' or p_channel_event = 'N')
  and d_year = 2000
group by i_item_id
order by i_item_id
limit 100
"""


def q_tpcds_q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q67 (the rollup monster): revenue ROLLUP over the full
    (category, class, brand, product, year, quarter, month, store)
    hierarchy for a 12-month window, then rank() within category and
    keep the top 10 rollup rows per category. Revenue sums as integer
    CENTS (ss_sales_price is 2-decimal) times quantity so the rank
    ordering is exact in both engines — a float sum could flip
    near-tied ranks."""
    from pyspark.sql import Window

    ss = _store_sales(spark, sf_dir)
    d = _date_dim(spark)
    s = _store(spark)
    i = _item(spark)
    cents = (F.round(F.col("ss_sales_price") * 100, 0).cast("bigint")
             * F.col("ss_quantity"))
    agg = (
        ss.join(F.broadcast(d), ss.ss_sold_date_sk == d.d_date_sk)
        .join(F.broadcast(s), ss.ss_store_sk == s.s_store_sk)
        .join(F.broadcast(i), ss.ss_item_sk == i.i_item_sk)
        .where(F.col("d_month_seq").between(60, 71))
        .rollup("i_category", "i_class", "i_brand", "i_product_name",
                "d_year", "d_qoy", "d_moy", "s_store_id")
        .agg((F.sum(F.coalesce(cents, F.lit(0))) / 100.0).alias("sumsales"))
    )
    rk = F.rank().over(
        Window.partitionBy("i_category").orderBy(F.desc("sumsales")))
    return (
        agg.withColumn("rk", rk)
        .where(F.col("rk") <= 10)
        .select("i_category", "i_class", "i_brand", "i_product_name",
                "d_year", "d_qoy", "d_moy", "s_store_id",
                F.round("sumsales", 2).alias("sumsales"), "rk")
    )


ORACLE_TPCDS_Q67 = _DIMS_SQL + """,
agg as (
  select i_category, i_class, i_brand, i_product_name,
         d_year, d_qoy, d_moy, s_store_id,
         sum(coalesce(cast(round(ss_sales_price * 100, 0) as bigint)
                      * ss_quantity, 0)) / 100.0 as sumsales
  from store_sales, date_dim, store, item
  where ss_sold_date_sk = d_date_sk and ss_store_sk = s_store_sk
    and ss_item_sk = i_item_sk
    and d_month_seq between 60 and 71
  group by rollup(i_category, i_class, i_brand, i_product_name,
                  d_year, d_qoy, d_moy, s_store_id)
),
ranked as (
  select *, rank() over (partition by i_category
                         order by sumsales desc) as rk
  from agg
)
select i_category, i_class, i_brand, i_product_name,
       d_year, d_qoy, d_moy, s_store_id,
       round(sumsales, 2) as sumsales, rk
from ranked where rk <= 10
"""


def q_tpcds_q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q96: a pure COUNT(*) star — how many sales in the 8:30+ hour at
    'ese' stores to 5-dependent households. Three broadcast dims, one
    global count."""
    ss = _store_sales(spark, sf_dir)
    t = _time_dim(spark)
    hd = _household_demographics(spark)
    s = _store(spark)
    return (
        ss.join(F.broadcast(t), ss.ss_sold_time_sk == t.t_time_sk)
        .join(F.broadcast(hd), ss.ss_hdemo_sk == hd.hd_demo_sk)
        .join(F.broadcast(s), ss.ss_store_sk == s.s_store_sk)
        .where((F.col("t_hour") == 8) & (F.col("t_minute") >= 30)
               & (F.col("hd_dep_count") == 5)
               & (F.col("s_store_name") == "ese"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


ORACLE_TPCDS_Q96 = _DIMS_SQL + """
select cast(count(*) as bigint) as cnt
from store_sales, household_demographics, time_dim, store
where ss_sold_time_sk = time_dim.t_time_sk
  and ss_hdemo_sk = household_demographics.hd_demo_sk
  and ss_store_sk = s_store_sk
  and time_dim.t_hour = 8
  and time_dim.t_minute >= 30
  and household_demographics.hd_dep_count = 5
  and store.s_store_name = 'ese'
"""


def q_tpcds_q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q68: per-ticket extended price / tax / list totals for
    early-month city purchases, joined back to customers whose CURRENT
    city differs from the bought city. Money sums in integer cents so
    both engines agree exactly; top-100 is TakeOrdered."""
    ss = _store_sales(spark, sf_dir)
    d = _date_dim(spark)
    s = _store(spark)
    hd = _household_demographics(spark)
    ca = _customer_address(spark)
    c = _customer(spark, sf_dir)

    def cents_sum(col):
        return (F.sum(F.round(F.col(col) * 100, 0).cast("bigint"))
                .cast("double") / 100.0)

    dn = (
        ss.join(F.broadcast(d), ss.ss_sold_date_sk == d.d_date_sk)
        .join(F.broadcast(s), ss.ss_store_sk == s.s_store_sk)
        .join(F.broadcast(hd), ss.ss_hdemo_sk == hd.hd_demo_sk)
        .join(F.broadcast(ca), ss.ss_addr_sk == ca.ca_address_sk)
        .where((F.col("d_year") == 1999)
               & ((F.col("hd_dep_count") == 4)
                  | (F.col("hd_vehicle_count") == 3))
               & (F.col("s_city").isin("City#0", "City#1")))
        .groupBy("ss_ticket_number", "ss_customer_sk",
                 F.col("ca_city").alias("bought_city"))
        .agg(cents_sum("ss_ext_sales_price").alias("extended_price"),
             cents_sum("ss_ext_list_price").alias("list_price"),
             cents_sum("ss_ext_tax").alias("extended_tax"))
    )
    cur = _customer_address(spark).select(
        F.col("ca_address_sk").alias("cur_addr_sk"),
        F.col("ca_city").alias("current_city"))
    return (
        dn.join(c, dn.ss_customer_sk == c.c_customer_sk)
        .join(F.broadcast(cur),
              F.col("c_current_addr_sk") == F.col("cur_addr_sk"))
        .where(F.col("current_city") != F.col("bought_city"))
        .select("c_last_name", "c_first_name", "current_city",
                "bought_city", "ss_ticket_number", "extended_price",
                "extended_tax", "list_price")
        .orderBy("c_last_name", "ss_ticket_number")
        .limit(100)
    )


ORACLE_TPCDS_Q68 = _DIMS_SQL + """,
dn as (
  select ss_ticket_number, ss_customer_sk, ca_city as bought_city,
         cast(sum(cast(round(ss_ext_sales_price * 100, 0) as bigint))
              as double) / 100.0 as extended_price,
         cast(sum(cast(round(ss_ext_list_price * 100, 0) as bigint))
              as double) / 100.0 as list_price,
         cast(sum(cast(round(ss_ext_tax * 100, 0) as bigint))
              as double) / 100.0 as extended_tax
  from store_sales, date_dim, store, household_demographics,
       customer_address
  where ss_sold_date_sk = d_date_sk and ss_store_sk = s_store_sk
    and ss_hdemo_sk = hd_demo_sk and ss_addr_sk = ca_address_sk
    and d_year = 1999
    and (hd_dep_count = 4 or hd_vehicle_count = 3)
    and s_city in ('City#0', 'City#1')
  group by ss_ticket_number, ss_customer_sk, ca_city
)
select c.c_last_name, c.c_first_name,
       current_addr.ca_city as current_city, dn.bought_city,
       dn.ss_ticket_number, dn.extended_price, dn.extended_tax,
       dn.list_price
from dn, cust c, customer_address current_addr
where dn.ss_customer_sk = c.c_customer_sk
  and c.c_current_addr_sk = current_addr.ca_address_sk
  and current_addr.ca_city <> dn.bought_city
order by c.c_last_name, dn.ss_ticket_number
limit 100
"""


# ---------------------------------------------------------------------------
# Correlated-subquery decorrelation coverage (r10).
#
# TPC-DS q1/q6/q30/q81 share Drill's hardest planner shape: a scalar
# subquery CORRELATED on a grouping key (`WHERE x > (SELECT avg(x)*1.2
# ... WHERE same-key)`), the class PlannerPhase.java:134-141's SUB_QUERY
# rules decorrelate into an aggregate + join. Spark-first answer: write
# the query AS SQL and let Catalyst's RewriteCorrelatedScalarSubquery do
# the decorrelation — tests/test_tpcds.py asserts the physical plans
# contain no CartesianProduct/BroadcastNestedLoopJoin, i.e. the
# correlation became an equi-join on the correlation key.
#
# The query BODIES below are engine-shared verbatim: Spark runs them over
# tpcds_*-prefixed temp views of the derived frames; the DuckDB oracle
# runs the IDENTICAL text with the same names bound as CTEs — so a hash
# match is a true cross-engine check of the decorrelated semantics.
# Return amounts are integer CENTS (floor) so every sum is exact and
# avg = exact_sum/count is bit-deterministic in both engines.

_RETURNS_SQL = """
tpcds_store_returns as (
  select o.o_custkey as sr_customer_sk,
         l.l_suppkey % 10 as sr_store_sk,
         2451180 + l.l_orderkey % 120 as sr_returned_date_sk,
         cast(floor(l.l_extendedprice * (1 - l.l_discount) * 100) as bigint)
           as sr_return_amt,
         l.l_orderkey as sr_ticket_number,
         l.l_partkey % 200 as sr_item_sk,
         cast((l.l_orderkey * 5 + l.l_partkey)
              % cast(l.l_quantity as int) as int) + 1 as sr_return_quantity
  from lineitem l join orders o on l.l_orderkey = o.o_orderkey
  where l.l_returnflag = 'R'
),
tpcds_web_returns as (
  select o.o_custkey as wr_returning_customer_sk,
         o.o_custkey * 13 % 400 as wr_returning_addr_sk,
         2451180 + l.l_orderkey % 120 as wr_returned_date_sk,
         cast(floor(l.l_extendedprice * (1 - l.l_discount) * 100) as bigint)
           as wr_return_amt,
         l.l_orderkey as wr_ticket_number,
         l.l_partkey % 200 as wr_item_sk,
         cast((l.l_orderkey * 5 + l.l_partkey)
              % cast(l.l_quantity as int) as int) + 1 as wr_return_quantity
  from lineitem l join orders o on l.l_orderkey = o.o_orderkey
  where l.l_returnflag = 'N'
),
tpcds_catalog_returns as (
  select o.o_custkey as cr_returning_customer_sk,
         o.o_custkey * 13 % 400 as cr_returning_addr_sk,
         2451180 + l.l_orderkey % 120 as cr_returned_date_sk,
         cast(floor(l.l_extendedprice * (1 - l.l_discount) * 100) as bigint)
           as cr_return_amount,
         l.l_orderkey as cr_ticket_number,
         l.l_partkey % 200 as cr_item_sk,
         cast((l.l_orderkey * 5 + l.l_partkey)
              % cast(l.l_quantity as int) as int) + 1 as cr_return_quantity
  from lineitem l join orders o on l.l_orderkey = o.o_orderkey
  where l.l_returnflag = 'A'
),
tpcds_web_sales as (
  select l.l_orderkey as ws_order_number,
         l.l_partkey % 200 as ws_item_sk,
         o.o_custkey as ws_bill_customer_sk,
         2451180 + l.l_orderkey % 120 as ws_sold_date_sk,
         (l.l_orderkey * 3 + l.l_linenumber) % 600 as ws_sold_time_sk,
         l.l_partkey % 20 as ws_web_page_sk,
         (l.l_orderkey + l.l_linenumber) % 50 as ws_ship_hdemo_sk,
         cast(l.l_quantity as int) as ws_quantity,
         cast(floor(l.l_extendedprice * (1 - l.l_discount) * 100) as bigint)
           as ws_sales_cents,
         cast(floor(l.l_extendedprice / l.l_quantity * 100) as bigint)
           as ws_list_cents,
         cast(floor(l.l_extendedprice * 0.6 * 100) as bigint)
           as ws_wholesale_cents
  from lineitem l join orders o on l.l_orderkey = o.o_orderkey
  where l.l_linenumber % 3 = 1
),
tpcds_catalog_sales as (
  select l.l_orderkey as cs_order_number,
         l.l_partkey % 200 as cs_item_sk,
         o.o_custkey as cs_bill_customer_sk,
         2451180 + l.l_orderkey % 120 as cs_sold_date_sk,
         (l.l_orderkey * 7 + l.l_partkey) % 100 as cs_bill_cdemo_sk,
         (l.l_orderkey + l.l_linenumber) % 50 as cs_bill_hdemo_sk,
         (l.l_partkey + l.l_suppkey) % 30 as cs_promo_sk,
         2451180 + l.l_orderkey % 120
           + (l.l_linenumber * 5 + l.l_partkey) % 40 as cs_ship_date_sk,
         l.l_suppkey % 5 as cs_warehouse_sk,
         cast(l.l_quantity as int) as cs_quantity,
         cast(floor(l.l_extendedprice * (1 - l.l_discount) * 100) as bigint)
           as cs_sales_cents,
         cast(floor(l.l_extendedprice / l.l_quantity * 100) as bigint)
           as cs_list_cents,
         cast(floor(l.l_extendedprice * 0.6 * 100) as bigint)
           as cs_wholesale_cents
  from lineitem l join orders o on l.l_orderkey = o.o_orderkey
  where l.l_linenumber % 3 = 2
),
tpcds_date_dim as (select * from date_dim),
tpcds_store as (select * from store),
tpcds_item as (select * from item),
tpcds_customer_address as (select * from customer_address),
tpcds_cust as (select * from cust),
tpcds_time_dim as (select * from time_dim),
tpcds_household_demographics as (select * from household_demographics),
tpcds_customer_demographics as (select * from customer_demographics),
tpcds_promotion as (select * from promotion),
tpcds_warehouse as (select * from warehouse),
tpcds_inventory as (select * from inventory),
tpcds_store_sales as (select * from store_sales)
"""


def _returns_fact(spark: SparkSession, sf_dir: str, flag: str,
                  cust: str, addr: str | None, date: str,
                  amt: str) -> DataFrame:
    """Python twin of one _RETURNS_SQL CTE (store/web/catalog returns
    share the derivation; only the returnflag slice and column names
    differ)."""
    li = load_fixture(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == flag)
    o = load_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    cols = [
        F.col("o_custkey").alias(cust),
        (F.lit(2451180) + F.col("l_orderkey") % 120).alias(date),
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                * 100).alias(amt),
    ]
    if addr is not None:
        cols.insert(1, (F.col("o_custkey") * 13 % 400).alias(addr))
    if flag == "R":
        cols.insert(1, (F.col("l_suppkey") % 10).alias("sr_store_sk"))
    # every channel carries the (ticket, item, quantity) return keys so
    # the returns-vs-sales joins (q93/q49) work on all three slices
    pre = {"R": "sr", "N": "wr", "A": "cr"}[flag]
    cols += [
        F.col("l_orderkey").alias(f"{pre}_ticket_number"),
        (F.col("l_partkey") % 200).alias(f"{pre}_item_sk"),
        ((F.col("l_orderkey") * 5 + F.col("l_partkey"))
         % F.col("l_quantity").cast("int")).cast("int").alias("__m"),
    ]
    return j.select(*cols).withColumn(
        f"{pre}_return_quantity", F.col("__m") + 1).drop("__m")


def _channel_sales(spark: SparkSession, sf_dir: str, pre: str,
                   mod_val: int) -> DataFrame:
    """Python twin of the tpcds_web_sales / tpcds_catalog_sales CTEs:
    the web (l_linenumber % 3 = 1) and catalog (% 3 = 2) channel facts
    carved from lineitem — money pre-floored to integer cents so every
    cross-channel aggregate is an exact bigint sum in both engines."""
    li = load_fixture(spark, sf_dir, "lineitem").where(
        F.col("l_linenumber") % 3 == mod_val)
    o = load_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    cols = [
        F.col("l_orderkey").alias(f"{pre}_order_number"),
        (F.col("l_partkey") % 200).alias(f"{pre}_item_sk"),
        F.col("o_custkey").alias(f"{pre}_bill_customer_sk"),
        (F.lit(2451180) + F.col("l_orderkey") % 120)
        .alias(f"{pre}_sold_date_sk"),
    ]
    if pre == "ws":
        cols += [
            ((F.col("l_orderkey") * 3 + F.col("l_linenumber")) % 600)
            .alias("ws_sold_time_sk"),
            (F.col("l_partkey") % 20).alias("ws_web_page_sk"),
            ((F.col("l_orderkey") + F.col("l_linenumber")) % 50)
            .alias("ws_ship_hdemo_sk"),
        ]
    if pre == "cs":
        # q72/q62/q35 keys: demographics, promotion, ship lag,
        # warehouse — same closed-form family as the store_sales sks
        cols += [
            ((F.col("l_orderkey") * 7 + F.col("l_partkey")) % 100)
            .alias("cs_bill_cdemo_sk"),
            ((F.col("l_orderkey") + F.col("l_linenumber")) % 50)
            .alias("cs_bill_hdemo_sk"),
            ((F.col("l_partkey") + F.col("l_suppkey")) % 30)
            .alias("cs_promo_sk"),
            (F.lit(2451180) + F.col("l_orderkey") % 120
             + (F.col("l_linenumber") * 5 + F.col("l_partkey")) % 40)
            .alias("cs_ship_date_sk"),
            (F.col("l_suppkey") % 5).alias("cs_warehouse_sk"),
        ]
    cols += [
        F.col("l_quantity").cast("int").alias(f"{pre}_quantity"),
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("bigint").alias(f"{pre}_sales_cents"),
        F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100)
        .cast("bigint").alias(f"{pre}_list_cents"),
        F.floor(F.col("l_extendedprice") * 0.6 * 100)
        .cast("bigint").alias(f"{pre}_wholesale_cents"),
    ]
    return j.select(*cols)


def _register_decorrelation_views(spark: SparkSession, sf_dir: str) -> None:
    # Registration is pure plan-building (every view is a lazy DataFrame
    # over the fixtures — no data is materialized), but constructing and
    # analyzing ~18 derived plans costs ~0.7-1.0s of DRIVER time, and
    # every tpcds_* query used to pay it again. Memoize per
    # (session, sf_dir) exactly like load_fixture's DataFrame cache: the
    # views are deterministic functions of sf_dir, so re-registration is
    # byte-identical; each action still computes from the parquet inputs.
    if getattr(spark, "_tpcds_views_sf", None) == sf_dir:
        return
    _returns_fact(spark, sf_dir, "R", "sr_customer_sk", None,
                  "sr_returned_date_sk", "sr_return_amt"
                  ).createOrReplaceTempView("tpcds_store_returns")
    _returns_fact(spark, sf_dir, "N", "wr_returning_customer_sk",
                  "wr_returning_addr_sk", "wr_returned_date_sk",
                  "wr_return_amt"
                  ).createOrReplaceTempView("tpcds_web_returns")
    _returns_fact(spark, sf_dir, "A", "cr_returning_customer_sk",
                  "cr_returning_addr_sk", "cr_returned_date_sk",
                  "cr_return_amount"
                  ).createOrReplaceTempView("tpcds_catalog_returns")
    _date_dim(spark).createOrReplaceTempView("tpcds_date_dim")
    _store(spark).createOrReplaceTempView("tpcds_store")
    _item(spark).createOrReplaceTempView("tpcds_item")
    _customer_address(spark).createOrReplaceTempView("tpcds_customer_address")
    _customer(spark, sf_dir).createOrReplaceTempView("tpcds_cust")
    _time_dim(spark).createOrReplaceTempView("tpcds_time_dim")
    _household_demographics(spark).createOrReplaceTempView(
        "tpcds_household_demographics")
    _store_sales(spark, sf_dir).createOrReplaceTempView("tpcds_store_sales")
    _channel_sales(spark, sf_dir, "ws", 1).createOrReplaceTempView(
        "tpcds_web_sales")
    _channel_sales(spark, sf_dir, "cs", 2).createOrReplaceTempView(
        "tpcds_catalog_sales")
    _customer_demographics(spark).createOrReplaceTempView(
        "tpcds_customer_demographics")
    _promotion(spark).createOrReplaceTempView("tpcds_promotion")
    _warehouse(spark).createOrReplaceTempView("tpcds_warehouse")
    _inventory(spark).createOrReplaceTempView("tpcds_inventory")
    spark._tpcds_views_sf = sf_dir


# q1: customers returning more than 1.2x their store's average total —
# correlated scalar avg on the GROUP key of a derived aggregate.
_Q01_BODY = """
ctr as (
  select sr_customer_sk as ctr_customer_sk, sr_store_sk as ctr_store_sk,
         sum(sr_return_amt) as ctr_total_return
  from tpcds_store_returns, tpcds_date_dim
  where sr_returned_date_sk = d_date_sk and d_year = 2000
  group by sr_customer_sk, sr_store_sk
)
select c_customer_id
from ctr ctr1, tpcds_store s, tpcds_cust c
where ctr1.ctr_total_return > (select avg(ctr2.ctr_total_return) * 1.2
                               from ctr ctr2
                               where ctr1.ctr_store_sk = ctr2.ctr_store_sk)
  and s.s_store_sk = ctr1.ctr_store_sk
  and s.s_county = 'Saginaw County'
  and ctr1.ctr_customer_sk = c.c_customer_sk
order by c_customer_id
limit 100
"""

# q6: states where >= 10 customers bought items priced over 1.2x their
# category's average — correlated scalar avg on a non-key attribute
# plus an uncorrelated scalar subquery for the month.
_Q06_BODY = """
mo as (
  select min(d_month_seq) as msq from tpcds_date_dim
  where d_year = 2001 and d_moy = 1
)
select a.ca_state as state, cast(count(*) as bigint) as cnt
from tpcds_customer_address a, tpcds_cust c, tpcds_store_sales s,
     tpcds_date_dim d, tpcds_item i
where a.ca_address_sk = c.c_current_addr_sk
  and c.c_customer_sk = s.ss_customer_sk
  and s.ss_sold_date_sk = d.d_date_sk
  and s.ss_item_sk = i.i_item_sk
  and d.d_month_seq = (select msq from mo)
  and i.i_current_price > 1.2 * (select avg(j.i_current_price)
                                 from tpcds_item j
                                 where j.i_category = i.i_category)
group by a.ca_state
having count(*) >= 10
order by cnt, state
limit 100
"""

# q30: web returns, correlated on the return address STATE, with
# customer detail output.
_Q30_BODY = """
ctr as (
  select wr_returning_customer_sk as ctr_customer_sk,
         ca_state as ctr_state,
         sum(wr_return_amt) as ctr_total_return
  from tpcds_web_returns, tpcds_date_dim, tpcds_customer_address
  where wr_returned_date_sk = d_date_sk and d_year = 2002
    and wr_returning_addr_sk = ca_address_sk
  group by wr_returning_customer_sk, ca_state
)
select c_customer_id, c_salutation, c_first_name, c_last_name,
       c_preferred_cust_flag,
       cast(ctr1.ctr_total_return as bigint) as ctr_total_return
from ctr ctr1, tpcds_customer_address ca, tpcds_cust c
where ctr1.ctr_total_return > (select avg(ctr2.ctr_total_return) * 1.2
                               from ctr ctr2
                               where ctr1.ctr_state = ctr2.ctr_state)
  and ca.ca_address_sk = c.c_current_addr_sk
  and ca.ca_state = 'MI'
  and ctr1.ctr_customer_sk = c.c_customer_sk
order by c_customer_id, c_salutation, c_first_name, c_last_name,
         c_preferred_cust_flag, ctr_total_return
limit 100
"""

# q81: the catalog-returns twin of q30 (different fact slice, year,
# state, and output columns — city instead of the preferred flag).
_Q81_BODY = """
ctr as (
  select cr_returning_customer_sk as ctr_customer_sk,
         ca_state as ctr_state,
         sum(cr_return_amount) as ctr_total_return
  from tpcds_catalog_returns, tpcds_date_dim, tpcds_customer_address
  where cr_returned_date_sk = d_date_sk and d_year = 2000
    and cr_returning_addr_sk = ca_address_sk
  group by cr_returning_customer_sk, ca_state
)
select c_customer_id, c_salutation, c_first_name, c_last_name,
       ca.ca_city,
       cast(ctr1.ctr_total_return as bigint) as ctr_total_return
from ctr ctr1, tpcds_customer_address ca, tpcds_cust c
where ctr1.ctr_total_return > (select avg(ctr2.ctr_total_return) * 1.2
                               from ctr ctr2
                               where ctr1.ctr_state = ctr2.ctr_state)
  and ca.ca_address_sk = c.c_current_addr_sk
  and ca.ca_state = 'GA'
  and ctr1.ctr_customer_sk = c.c_customer_sk
order by c_customer_id, c_salutation, c_first_name, c_last_name,
         ca.ca_city, ctr_total_return
limit 100
"""


# q32 ("excess discount amount" shape, on the store_sales fact): sum
# sales priced above 1.3x the ITEM's own average — a correlated scalar
# avg whose subquery spans a fact+date join, decorrelated by Catalyst
# into a per-item aggregate joined back on the correlation key.
_Q32_BODY = """
x as (
  select ss_item_sk,
         cast(round(ss_sales_price * 100, 0) as bigint) as cents
  from tpcds_store_sales, tpcds_date_dim
  where ss_sold_date_sk = d_date_sk and d_year = 2000
)
select cast(sum(x.cents) as bigint) as excess_cents,
       cast(count(*) as bigint) as n_excess
from x, tpcds_item i
where i.i_manufact_id = 25
  and x.ss_item_sk = i.i_item_sk
  and x.cents > 1.3 * (select avg(x2.cents) from x x2
                       where x2.ss_item_sk = i.i_item_sk)
"""

# q47 (moving-average shape): monthly (category, brand, store) sales
# vs the year's average, with prev/next month via rank self-joins —
# windows OVER an aggregate plus two equi self-joins. avg of exact
# integer-cent sums is bit-deterministic; the surfaced average is
# floored so no cross-engine rounding is involved.
_Q47_BODY = """
v1 as (
  select i.i_category, i.i_brand, s.s_store_name, d.d_year, d.d_moy,
         sum(cast(round(ss.ss_sales_price * 100, 0) as bigint))
           as sum_cents,
         avg(sum(cast(round(ss.ss_sales_price * 100, 0) as bigint)))
           over (partition by i.i_category, i.i_brand, s.s_store_name,
                 d.d_year) as avg_monthly_cents,
         rank() over (partition by i.i_category, i.i_brand,
                      s.s_store_name
                      order by d.d_year, d.d_moy) as rn
  from tpcds_store_sales ss, tpcds_item i, tpcds_date_dim d,
       tpcds_store s
  where ss.ss_item_sk = i.i_item_sk
    and ss.ss_sold_date_sk = d.d_date_sk
    and ss.ss_store_sk = s.s_store_sk
  group by i.i_category, i.i_brand, s.s_store_name, d.d_year, d.d_moy
)
select v1.i_category, v1.i_brand, v1.s_store_name, v1.d_year, v1.d_moy,
       cast(v1.sum_cents as bigint) as sum_cents,
       cast(floor(v1.avg_monthly_cents) as bigint) as avg_monthly_fl,
       cast(v_lag.sum_cents as bigint) as psum_cents,
       cast(v_lead.sum_cents as bigint) as nsum_cents
from v1, v1 v_lag, v1 v_lead
where v1.i_category = v_lag.i_category
  and v1.i_brand = v_lag.i_brand
  and v1.s_store_name = v_lag.s_store_name
  and v1.rn = v_lag.rn + 1
  and v1.i_category = v_lead.i_category
  and v1.i_brand = v_lead.i_brand
  and v1.s_store_name = v_lead.s_store_name
  and v1.rn = v_lead.rn - 1
  and v1.d_year = 2000
  and v1.avg_monthly_cents > 0
  and abs(v1.sum_cents - v1.avg_monthly_cents) / v1.avg_monthly_cents
      > 0.1
order by v1.sum_cents - v1.avg_monthly_cents, v1.i_category, v1.i_brand,
         v1.s_store_name, v1.d_year, v1.d_moy
limit 100
"""


# q16 shape (EXISTS + NOT EXISTS): county-filtered baskets having a
# second distinct item on the same ticket (EXISTS → left-semi) and no
# return by that customer at that store (NOT EXISTS → left-anti).
_Q16_BODY = """
unused as (select 1 as one)
select cast(count(distinct ss1.ss_ticket_number) as bigint)
         as order_count,
       cast(sum(cast(round(ss1.ss_sales_price * 100, 0) as bigint))
         as bigint) as total_cents
from tpcds_store_sales ss1, tpcds_date_dim d, tpcds_store s
where ss1.ss_sold_date_sk = d.d_date_sk and d.d_year = 2000
  and ss1.ss_store_sk = s.s_store_sk
  and s.s_county = 'Saginaw County'
  and exists (select 1 from tpcds_store_sales ss2
              where ss1.ss_ticket_number = ss2.ss_ticket_number
                and ss1.ss_item_sk <> ss2.ss_item_sk)
  and not exists (select 1 from tpcds_store_returns sr
                  where sr.sr_customer_sk = ss1.ss_customer_sk
                    and sr.sr_store_sk = ss1.ss_store_sk)
"""

# q38 shape (multi-way INTERSECT): customers active in all three
# activity channels within the year.
_Q38_BODY = """
hot as (
  select ss_customer_sk as csk
  from tpcds_store_sales, tpcds_date_dim
  where ss_sold_date_sk = d_date_sk and d_year = 2000
  intersect
  select wr_returning_customer_sk
  from tpcds_web_returns, tpcds_date_dim
  where wr_returned_date_sk = d_date_sk and d_year = 2000
  intersect
  select cr_returning_customer_sk
  from tpcds_catalog_returns, tpcds_date_dim
  where cr_returned_date_sk = d_date_sk and d_year = 2000
)
select cast(count(*) as bigint) as cnt from hot
"""

# q71-style (union of activity channels → per-customer rollup):
# heterogeneous money columns unify to one cents stream, one group-by.
_Q71_BODY = """
by_cust as (
  select ss_customer_sk as csk,
         cast(round(ss_sales_price * 100, 0) as bigint) as cents
  from tpcds_store_sales, tpcds_date_dim
  where ss_sold_date_sk = d_date_sk and d_year = 2000
  union all
  select sr_customer_sk, sr_return_amt
  from tpcds_store_returns, tpcds_date_dim
  where sr_returned_date_sk = d_date_sk and d_year = 2000
  union all
  select cr_returning_customer_sk, cr_return_amount
  from tpcds_catalog_returns, tpcds_date_dim
  where cr_returned_date_sk = d_date_sk and d_year = 2000
)
select c.c_customer_id, cast(sum(b.cents) as bigint) as total_cents
from by_cust b, tpcds_cust c
where b.csk = c.c_customer_sk
group by c.c_customer_id
order by total_cents desc, c_customer_id
limit 100
"""

# q88 shape (the scalar-subquery pivot: independent time-bucket counts
# cross-joined into ONE row — four uncorrelated scalar subqueries).
_Q88_BODY = """
b as (select 1 as one)
select
 (select cast(count(*) as bigint)
  from tpcds_store_sales, tpcds_household_demographics hd,
       tpcds_time_dim t, tpcds_store s
  where ss_sold_time_sk = t.t_time_sk and ss_hdemo_sk = hd.hd_demo_sk
    and ss_store_sk = s.s_store_sk and t.t_hour = 8
    and t.t_minute >= 30 and hd.hd_dep_count = 5
    and s.s_store_name = 'ese') as h8_30,
 (select cast(count(*) as bigint)
  from tpcds_store_sales, tpcds_household_demographics hd,
       tpcds_time_dim t, tpcds_store s
  where ss_sold_time_sk = t.t_time_sk and ss_hdemo_sk = hd.hd_demo_sk
    and ss_store_sk = s.s_store_sk and t.t_hour = 9
    and t.t_minute < 30 and hd.hd_dep_count = 5
    and s.s_store_name = 'ese') as h9_00,
 (select cast(count(*) as bigint)
  from tpcds_store_sales, tpcds_household_demographics hd,
       tpcds_time_dim t, tpcds_store s
  where ss_sold_time_sk = t.t_time_sk and ss_hdemo_sk = hd.hd_demo_sk
    and ss_store_sk = s.s_store_sk and t.t_hour = 9
    and t.t_minute >= 30 and hd.hd_dep_count = 5
    and s.s_store_name = 'ese') as h9_30,
 (select cast(count(*) as bigint)
  from tpcds_store_sales, tpcds_household_demographics hd,
       tpcds_time_dim t, tpcds_store s
  where ss_sold_time_sk = t.t_time_sk and ss_hdemo_sk = hd.hd_demo_sk
    and ss_store_sk = s.s_store_sk and t.t_hour = 10
    and t.t_minute < 30 and hd.hd_dep_count = 5
    and s.s_store_name = 'ese') as h10_00
from b
"""


# q44 shape (two-sided rank join): per-item average sale at one store,
# HAVING over an uncorrelated scalar subquery (the store's overall
# average), then rank() ascending AND descending over the same derived
# aggregate joined on rank — best/worst product names side by side.
# avg of exact integer cents is one IEEE divide in both engines, so the
# HAVING compare and the rank order are bit-deterministic; item_sk
# tiebreaks make ranks unique. The unpartitioned rank() windows here
# (and q70's below) run over PER-ITEM / PER-COUNTY aggregates — frames
# bounded by dimension cardinality, not fact rows, which is the spec's
# own shape; the single-partition WindowExec they plan to is fine at
# any fact-table scale (that's also the source of Spark's "No
# Partition Defined" warning in bench logs — expected, not a smell).
_Q44_BODY = """
base as (
  select ss_item_sk as item_sk,
         avg(cast(round(ss_sales_price * 100, 0) as bigint)) as rank_col
  from tpcds_store_sales
  where ss_store_sk = 4
  group by ss_item_sk
  having avg(cast(round(ss_sales_price * 100, 0) as bigint)) >
         0.9 * (select avg(cast(round(ss_sales_price * 100, 0) as bigint))
                from tpcds_store_sales where ss_store_sk = 4)
),
lowrank as (
  select item_sk, rank() over (order by rank_col asc, item_sk) as rnk
  from base
),
highrank as (
  select item_sk, rank() over (order by rank_col desc, item_sk) as rnk
  from base
)
select cast(lowrank.rnk as bigint) as rnk,
       i1.i_product_name as best_performing,
       i2.i_product_name as worst_performing
from lowrank, highrank, tpcds_item i1, tpcds_item i2
where lowrank.rnk = highrank.rnk
  and lowrank.rnk <= 10
  and i1.i_item_sk = highrank.item_sk
  and i2.i_item_sk = lowrank.item_sk
order by rnk
limit 100
"""

# q70 shape (grouping-sets rank within hierarchy level): revenue
# ROLLUP over the (county, city) store hierarchy for a 12-month
# window, restricted to the top-5 counties by a windowed IN-subquery,
# with grouping()-derived hierarchy level both as an output column and
# as the rank PARTITION — the decorrelation-adjacent shape where the
# window runs over grouping-set output, not a base table. <=36 output
# rows, so the LIMIT never truncates and the order-insensitive hash is
# safe.
_Q70_BODY = """
tot as (
  select cast(round(ss.ss_sales_price * 100, 0) as bigint) as cents,
         s.s_county, s.s_city
  from tpcds_store_sales ss, tpcds_store s, tpcds_date_dim d
  where ss.ss_store_sk = s.s_store_sk
    and ss.ss_sold_date_sk = d.d_date_sk
    and d.d_month_seq between 60 and 71
),
top_counties as (
  select s_county from (
    select s_county,
           rank() over (order by sum(cents) desc, s_county) as r
    from tot group by s_county) t
  where r <= 5
),
rolled as (
  select cast(sum(cents) as bigint) as total_cents,
         s_county, s_city,
         cast(grouping(s_county) + grouping(s_city) as int)
           as lochierarchy,
         cast(rank() over (
           partition by grouping(s_county) + grouping(s_city),
                        case when grouping(s_city) = 0 then s_county end
           order by sum(cents) desc, coalesce(s_city, s_county, ''))
           as int) as rank_within_parent
  from tot
  where s_county in (select s_county from top_counties)
  group by rollup(s_county, s_city)
)
select total_cents, s_county, s_city, lochierarchy, rank_within_parent
from rolled
order by lochierarchy desc,
         case when lochierarchy = 1 then s_county end,
         rank_within_parent
limit 100
"""


# q23 shape (frequent items x best customers): month sales restricted
# to items bought often across years AND customers whose lifetime spend
# exceeds half the BEST customer's — an uncorrelated scalar subquery
# over the max of an aggregate-of-aggregate, gating the fact through
# two IN semi-joins. Integer cents keep the 50%-of-max compare exact.
_Q23_BODY = """
freq as (
  select ss_item_sk from (
    select ss_item_sk, d_date_sk, count(*) as cnt
    from tpcds_store_sales, tpcds_date_dim
    where ss_sold_date_sk = d_date_sk
    group by ss_item_sk, d_date_sk)
  group by ss_item_sk
  having max(cnt) > 1
),
csales as (
  select ss_customer_sk,
         sum(cast(round(ss_sales_price * 100, 0) as bigint)
             * ss_quantity) as ssales
  from tpcds_store_sales
  group by ss_customer_sk
),
best as (
  select ss_customer_sk from csales
  where ssales > 0.5 * (select max(ssales) from csales)
)
select cast(sum(cast(round(ss_sales_price * 100, 0) as bigint)
                * ss_quantity) as bigint) as sales_cents,
       cast(count(*) as bigint) as n_rows
from tpcds_store_sales, tpcds_date_dim
where ss_sold_date_sk = d_date_sk
  and d_year = 1999
  and ss_item_sk in (select ss_item_sk from freq)
  and ss_customer_sk in (select ss_customer_sk from best)
"""

# q51 shape (cumulative-window full-outer join): per-item running
# sales totals for two channels (even/odd store slices stand in for
# web/store facts), FULL OUTER joined on (item, day), then a running
# max over the joined stream finds the first days web overtakes store.
# (item, day) is unique after the pre-aggregate, so the explicit ROWS
# frames are deterministic; sums are integer cents end to end.
_Q51_BODY = """
web_v as (
  select ss_item_sk as item_sk, ss_sold_date_sk as dsk,
         sum(cast(round(ss_sales_price * 100, 0) as bigint)) as amt
  from tpcds_store_sales
  where ss_store_sk % 2 = 0 and ss_item_sk < 40
    and ss_sold_date_sk between 2451180 and 2451269
  group by ss_item_sk, ss_sold_date_sk
),
store_v as (
  select ss_item_sk as item_sk, ss_sold_date_sk as dsk,
         sum(cast(round(ss_sales_price * 100, 0) as bigint)) as amt
  from tpcds_store_sales
  where ss_store_sk % 2 = 1 and ss_item_sk < 40
    and ss_sold_date_sk between 2451180 and 2451269
  group by ss_item_sk, ss_sold_date_sk
),
cum_web as (
  select item_sk, dsk,
         sum(amt) over (partition by item_sk order by dsk
                        rows between unbounded preceding and current row)
           as cume
  from web_v
),
cum_store as (
  select item_sk, dsk,
         sum(amt) over (partition by item_sk order by dsk
                        rows between unbounded preceding and current row)
           as cume
  from store_v
),
joined as (
  select coalesce(w.item_sk, s.item_sk) as item_sk,
         coalesce(w.dsk, s.dsk) as dsk,
         w.cume as web_cume, s.cume as store_cume
  from cum_web w full outer join cum_store s
    on w.item_sk = s.item_sk and w.dsk = s.dsk
),
filled as (
  select item_sk, dsk,
         max(web_cume) over (partition by item_sk order by dsk
                             rows between unbounded preceding and current row)
           as web_cumulative,
         max(store_cume) over (partition by item_sk order by dsk
                               rows between unbounded preceding and current row)
           as store_cumulative
  from joined
)
select item_sk, dsk,
       cast(web_cumulative as bigint) as web_cumulative,
       cast(store_cumulative as bigint) as store_cumulative
from filled
where web_cumulative > store_cumulative
order by item_sk, dsk
limit 100
"""


# q11 shape (year-over-year growth ratio): per-(customer, channel,
# year) totals self-joined four ways — customers whose "web" (odd
# stores) growth ratio beats their "store" (even stores) growth ratio
# between consecutive years. Positive-first-year guards stand in for
# the spec's CASE/NULLIF; ratios divide exact integer-cent sums, so
# the strict > compare is bit-identical across engines.
_Q11_BODY = """
totals as (
  select ss_customer_sk as c, ss_store_sk % 2 as chan, d_year as yr,
         sum(cast(round(ss_sales_price * 100, 0) as bigint)) as cents
  from tpcds_store_sales, tpcds_date_dim
  where ss_sold_date_sk = d_date_sk and d_year in (1999, 2000)
  group by ss_customer_sk, ss_store_sk % 2, d_year
)
select s1.c as customer_sk,
       cast(s1.cents as bigint) as store_first,
       cast(s2.cents as bigint) as store_second,
       cast(w1.cents as bigint) as web_first,
       cast(w2.cents as bigint) as web_second
from totals s1, totals s2, totals w1, totals w2
where s1.c = s2.c and s1.c = w1.c and s1.c = w2.c
  and s1.chan = 0 and s2.chan = 0 and w1.chan = 1 and w2.chan = 1
  and s1.yr = 1999 and s2.yr = 2000 and w1.yr = 1999 and w2.yr = 2000
  and s1.cents > 0 and w1.cents > 0
  and w2.cents * 1.0 / w1.cents > s2.cents * 1.0 / s1.cents
order by customer_sk
limit 100
"""


# q93 shape (left-join conditional-arithmetic aggregate): actual sales
# per customer after netting out returns — store_sales LEFT JOIN
# store_returns on (ticket, item); a matched row contributes
# (quantity - returned) * price, an unmatched one quantity * price.
# The CASE rides the join's null-production, so the whole adjustment
# is one outer equi-join + one aggregate. Integer-cent prices keep the
# sums exact; the (ticket, item) key fans out identically in both
# engines when linenumbers collide on item_sk, so the hash still
# matches.
_Q93_BODY = """
t as (
  select ss.ss_customer_sk,
         case when sr.sr_ticket_number is not null
              then (ss.ss_quantity - sr.sr_return_quantity)
                   * cast(round(ss.ss_sales_price * 100, 0) as bigint)
              else ss.ss_quantity
                   * cast(round(ss.ss_sales_price * 100, 0) as bigint)
         end as act_cents
  from tpcds_store_sales ss
  left join tpcds_store_returns sr
    on ss.ss_ticket_number = sr.sr_ticket_number
   and ss.ss_item_sk = sr.sr_item_sk
)
select ss_customer_sk as customer_sk,
       cast(sum(act_cents) as bigint) as sumsales
from t
group by ss_customer_sk
order by sumsales, customer_sk
limit 100
"""


# q97 shape (channel-overlap FULL OUTER JOIN): distinct
# (customer, day) purchase sets of two channels (even/odd stores
# standing in for store/catalog) full-outer joined, then one pass of
# CASE counts — exclusive-left, exclusive-right, both. The classic
# set-reconciliation plan: two distinct aggregates, one full-outer
# equi-join, one global aggregate; no row ever leaves the join keyed
# stream.
_Q97_BODY = """
ssci as (
  select distinct ss_customer_sk as cs, ss_sold_date_sk as d
  from tpcds_store_sales, tpcds_date_dim
  where ss_sold_date_sk = d_date_sk and ss_store_sk % 2 = 0
    and d_year = 1999
),
csci as (
  select distinct ss_customer_sk as cs, ss_sold_date_sk as d
  from tpcds_store_sales, tpcds_date_dim
  where ss_sold_date_sk = d_date_sk and ss_store_sk % 2 = 1
    and d_year = 1999
)
select cast(sum(case when ssci.cs is not null and csci.cs is null
                     then 1 else 0 end) as bigint) as store_only,
       cast(sum(case when ssci.cs is null and csci.cs is not null
                     then 1 else 0 end) as bigint) as catalog_only,
       cast(sum(case when ssci.cs is not null and csci.cs is not null
                     then 1 else 0 end) as bigint) as store_and_catalog
from ssci full outer join csci
  on ssci.cs = csci.cs and ssci.d = csci.d
"""


# q49 shape (per-channel ranked return ratios, union over channels):
# each channel's returns join its sales on (ticket, item), aggregate
# per item into quantity and currency return ratios, rank both within
# the channel, keep anything in either top-10, union the channels.
# Ratios are double divisions of exact bigint sums (bit-identical in
# both engines); rank windows run over per-item aggregates — frames
# bounded by the 200-item dimension, the q44/q70 argument. The item
# tiebreak makes both rank orders total.
_Q49_BODY = """
chan as (
  select 'store' as channel, ss.ss_item_sk as item,
         sum(cast(sr.sr_return_quantity as bigint)) as rq,
         sum(cast(ss.ss_quantity as bigint)) as sq,
         sum(sr.sr_return_amt) as ra,
         sum(cast(round(ss.ss_ext_sales_price * 100, 0) as bigint)) as sa
  from tpcds_store_sales ss
  join tpcds_store_returns sr
    on ss.ss_ticket_number = sr.sr_ticket_number
   and ss.ss_item_sk = sr.sr_item_sk
  group by ss.ss_item_sk
  union all
  select 'web', ss.ss_item_sk,
         sum(cast(wr.wr_return_quantity as bigint)),
         sum(cast(ss.ss_quantity as bigint)),
         sum(wr.wr_return_amt),
         sum(cast(round(ss.ss_ext_sales_price * 100, 0) as bigint))
  from tpcds_store_sales ss
  join tpcds_web_returns wr
    on ss.ss_ticket_number = wr.wr_ticket_number
   and ss.ss_item_sk = wr.wr_item_sk
  group by ss.ss_item_sk
  union all
  select 'catalog', ss.ss_item_sk,
         sum(cast(cr.cr_return_quantity as bigint)),
         sum(cast(ss.ss_quantity as bigint)),
         sum(cr.cr_return_amount),
         sum(cast(round(ss.ss_ext_sales_price * 100, 0) as bigint))
  from tpcds_store_sales ss
  join tpcds_catalog_returns cr
    on ss.ss_ticket_number = cr.cr_ticket_number
   and ss.ss_item_sk = cr.cr_item_sk
  group by ss.ss_item_sk
),
ranked as (
  select channel, item,
         rank() over (partition by channel
                      order by cast(rq as double) / cast(sq as double),
                               item) as return_rank,
         rank() over (partition by channel
                      order by cast(ra as double) / cast(sa as double),
                               item) as currency_rank
  from chan
)
select channel, cast(item as bigint) as item_sk,
       cast(return_rank as bigint) as return_rank,
       cast(currency_rank as bigint) as currency_rank
from ranked
where return_rank <= 10 or currency_rank <= 10
order by channel, return_rank, currency_rank, item_sk
"""


# q31 shape (quarter-over-quarter share growth, six-way self-join):
# per-(county, quarter) sales totals for two channels (even/odd
# ITEMS standing in for store/web — stores map to counties mod 8, so
# store parity would leave every county single-channel), three
# consecutive quarters each,
# self-joined six ways on the county; counties qualify when the web
# channel's QoQ growth ratio beats the store channel's in BOTH
# transitions. Ratios divide exact integer-cent sums; positive-
# denominator guards stand in for the spec's CASE/NULLIF.
_Q31_BODY = """
qt as (
  select s.s_county as county, ss_item_sk % 2 as chan, d_qoy as q,
         sum(cast(round(ss_sales_price * 100, 0) as bigint)) as cents
  from tpcds_store_sales, tpcds_date_dim, tpcds_store s
  where ss_sold_date_sk = d_date_sk and ss_store_sk = s.s_store_sk
    and d_year = 1999 and d_qoy in (1, 2, 3)
  group by s.s_county, ss_item_sk % 2, d_qoy
)
select s1.county as county,
       cast(w1.cents as bigint) as web_q1,
       cast(w2.cents as bigint) as web_q2,
       cast(w3.cents as bigint) as web_q3,
       cast(s1.cents as bigint) as store_q1,
       cast(s2.cents as bigint) as store_q2,
       cast(s3.cents as bigint) as store_q3
from qt s1, qt s2, qt s3, qt w1, qt w2, qt w3
where s1.county = s2.county and s1.county = s3.county
  and s1.county = w1.county and s1.county = w2.county
  and s1.county = w3.county
  and s1.chan = 0 and s2.chan = 0 and s3.chan = 0
  and w1.chan = 1 and w2.chan = 1 and w3.chan = 1
  and s1.q = 1 and s2.q = 2 and s3.q = 3
  and w1.q = 1 and w2.q = 2 and w3.q = 3
  and s1.cents > 0 and s2.cents > 0 and w1.cents > 0 and w2.cents > 0
  and w2.cents * 1.0 / w1.cents > s2.cents * 1.0 / s1.cents
  and w3.cents * 1.0 / w2.cents > s3.cents * 1.0 / s2.cents
order by s1.county
limit 100
"""


# q29 shape (chained fact-to-fact-to-fact join): items SOLD in the
# first half of 1999, RETURNED (sales joined to returns on
# ticket+item+customer), then RE-BOUGHT by the same customer the next
# year (returns joined back to sales on item+customer) — the
# three-fact chain whose quantities aggregate per item. Every hop is
# an equi-join on fact keys; exact integer quantities keep the sums
# hash-stable.
_Q29_BODY = """
sold as (
  select ss_item_sk as item, ss_customer_sk as cust,
         ss_ticket_number as tkt, ss_quantity as q
  from tpcds_store_sales, tpcds_date_dim
  where ss_sold_date_sk = d_date_sk and d_year = 1999 and d_moy <= 6
),
ret as (
  select sr_item_sk as item, sr_customer_sk as cust,
         sr_ticket_number as tkt, sr_return_quantity as rq
  from tpcds_store_returns, tpcds_date_dim
  where sr_returned_date_sk = d_date_sk and d_year = 1999
),
rebuy as (
  select ss_item_sk as item, ss_customer_sk as cust, ss_quantity as q2
  from tpcds_store_sales, tpcds_date_dim
  where ss_sold_date_sk = d_date_sk and d_year = 2000
)
select i.i_item_id as item_id,
       cast(sum(s.q) as bigint) as store_sales_quantity,
       cast(sum(r.rq) as bigint) as store_returns_quantity,
       cast(sum(b.q2) as bigint) as rebuy_quantity
from sold s
join ret r on s.tkt = r.tkt and s.item = r.item and s.cust = r.cust
join rebuy b on r.item = b.item and r.cust = b.cust
join tpcds_item i on s.item = i.i_item_sk
group by i.i_item_id
order by item_id
limit 100
"""


# q95 shape (multi-warehouse returned orders): tickets sold from MORE
# THAN ONE store — MODELING the spec's ws1/ws2 warehouse pattern (the
# self-join-with-inequality SHAPE itself is no longer executed here
# since the r13 rewrite below; q16's correlated EXISTS with <> keeps
# that plan shape covered) — restricted by
# IN to that set and by EXISTS to tickets with a return — the
# double-semijoin shape on one fact. One summary row of exact-cent
# totals.
# r13 restructure (results provably unchanged, shared oracle text): the
# original `select distinct a.ticket from fact a join fact b on
# a.ticket = b.ticket and a.store <> b.store` materializes O(k^2) pairs
# per ticket and sort-merge-joins the fact with itself — and Spark's
# constraint inference then applies the IN-semijoin to BOTH sides of
# the l⋈o equi-join underneath the fact view, planning the whole
# self-join subtree twice (guide §3.3). A ticket has two rows with
# different non-NULL stores iff it has >1 distinct non-NULL store, so
# the set is exactly `group by ticket having count(distinct store) > 1`
# (count(distinct) ignores NULL stores, matching `<>`'s NULL
# semantics); the explicit `is not null` keeps the NULL-ticket group
# out, matching the equi-join. One partial-aggregated pass replaces
# the pair explosion; both engines run this same text.
_Q95_BODY = """
multi_store as (
  select ss_ticket_number
  from tpcds_store_sales
  where ss_ticket_number is not null
  group by ss_ticket_number
  having count(distinct ss_store_sk) > 1
)
select cast(count(distinct ss.ss_ticket_number) as bigint) as order_count,
       cast(sum(cast(round(ss.ss_ext_sales_price * 100, 0) as bigint))
            as bigint) as total_cents
from tpcds_store_sales ss, tpcds_date_dim d
where ss.ss_sold_date_sk = d.d_date_sk and d.d_year = 1999
  and ss.ss_ticket_number in (select ss_ticket_number from multi_store)
  and exists (select 1 from tpcds_store_returns sr
              where sr.sr_ticket_number = ss.ss_ticket_number)
"""


# q39 shape (coefficient-of-variation self-join): per-(item, store,
# month) quantity mean/stdev, months January/February self-joined
# where January's CoV exceeds 0.5 (the spec's 1.0 bar, scaled to the
# fixture's uniform quantities so the result set is non-trivial). The statistical moments are computed
# from EXACT integer sums — var = (n*Σx² - (Σx)²) / (n(n-1)) stays a
# bigint ratio until one double division — so sqrt/round are
# bit-identical in both engines (stddev_samp() itself would be
# accumulation-order dependent and hash-unstable).
_Q39_BODY = """
moments as (
  select ss_item_sk as item, ss_store_sk as store, d_moy as moy,
         count(*) as n,
         sum(cast(ss_quantity as bigint)) as s1,
         sum(cast(ss_quantity as bigint) * cast(ss_quantity as bigint))
           as s2
  from tpcds_store_sales, tpcds_date_dim
  where ss_sold_date_sk = d_date_sk and d_year = 1999 and d_moy in (1, 2)
  group by ss_item_sk, ss_store_sk, d_moy
),
cv as (
  select item, store, moy,
         case when n > 1 and s1 > 0
              then round(sqrt(cast(n * s2 - s1 * s1 as double)
                              / cast(n * (n - 1) as double))
                         * cast(n as double) / cast(s1 as double), 4)
         end as cov
  from moments
)
select m1.item as item_sk, m1.store as store_sk,
       m1.cov as cov_jan, m2.cov as cov_feb
from cv m1
join cv m2 on m1.item = m2.item and m1.store = m2.store
where m1.moy = 1 and m2.moy = 2 and m1.cov > 0.5 and m2.cov is not null
order by item_sk, store_sk
limit 100
"""


# q14 shape (cross-channel INTERSECT iceberg): items sold through ALL
# THREE channels in the year (an INTERSECT of (brand, class, category)
# triples), per-channel November sales of those items, kept only where
# the group's sales beat the all-channel average (a scalar subquery in
# HAVING). Money is exact integer cents end to end; the average is one
# double division of two exact bigints.
_Q14_BODY = """
cross_items as (
  select i_item_sk as ci_item_sk
  from tpcds_item,
       (select i1.i_brand_id as brand_id, i1.i_class_id as class_id,
               i1.i_category_id as category_id
        from tpcds_store_sales, tpcds_item i1, tpcds_date_dim
        where ss_item_sk = i1.i_item_sk and ss_sold_date_sk = d_date_sk
          and d_year = 1999
        intersect
        select i2.i_brand_id, i2.i_class_id, i2.i_category_id
        from tpcds_catalog_sales, tpcds_item i2, tpcds_date_dim
        where cs_item_sk = i2.i_item_sk and cs_sold_date_sk = d_date_sk
          and d_year = 1999
        intersect
        select i3.i_brand_id, i3.i_class_id, i3.i_category_id
        from tpcds_web_sales, tpcds_item i3, tpcds_date_dim
        where ws_item_sk = i3.i_item_sk and ws_sold_date_sk = d_date_sk
          and d_year = 1999) x
  where i_brand_id = brand_id and i_class_id = class_id
    and i_category_id = category_id
),
avg_sales as (
  select sum(c) * 1.0 / count(*) as average_cents
  from (select cast(ss_quantity as bigint)
               * cast(round(ss_list_price * 100, 0) as bigint) as c
        from tpcds_store_sales, tpcds_date_dim
        where ss_sold_date_sk = d_date_sk and d_year = 1999
        union all
        select cast(cs_quantity as bigint) * cs_list_cents
        from tpcds_catalog_sales, tpcds_date_dim
        where cs_sold_date_sk = d_date_sk and d_year = 1999
        union all
        select cast(ws_quantity as bigint) * ws_list_cents
        from tpcds_web_sales, tpcds_date_dim
        where ws_sold_date_sk = d_date_sk and d_year = 1999) t
)
select channel, i_brand_id, i_class_id, i_category_id,
       cast(sum(sales_cents) as bigint) as sales_cents,
       cast(count(*) as bigint) as num_sales
from (
  select 'store' as channel, i_brand_id, i_class_id, i_category_id,
         cast(ss_quantity as bigint)
         * cast(round(ss_list_price * 100, 0) as bigint) as sales_cents
  from tpcds_store_sales, tpcds_item, tpcds_date_dim
  where ss_item_sk = i_item_sk and ss_sold_date_sk = d_date_sk
    and d_year = 1999 and d_moy = 11
    and ss_item_sk in (select ci_item_sk from cross_items)
  union all
  select 'catalog', i_brand_id, i_class_id, i_category_id,
         cast(cs_quantity as bigint) * cs_list_cents
  from tpcds_catalog_sales, tpcds_item, tpcds_date_dim
  where cs_item_sk = i_item_sk and cs_sold_date_sk = d_date_sk
    and d_year = 1999 and d_moy = 11
    and cs_item_sk in (select ci_item_sk from cross_items)
  union all
  select 'web', i_brand_id, i_class_id, i_category_id,
         cast(ws_quantity as bigint) * ws_list_cents
  from tpcds_web_sales, tpcds_item, tpcds_date_dim
  where ws_item_sk = i_item_sk and ws_sold_date_sk = d_date_sk
    and d_year = 1999 and d_moy = 11
    and ws_item_sk in (select ci_item_sk from cross_items)
) y
group by channel, i_brand_id, i_class_id, i_category_id
having sum(sales_cents) > (select average_cents from avg_sales)
order by channel, i_brand_id, i_class_id, i_category_id
limit 100
"""


# q64 shape (two-pass big join with year self-join): a six-way
# sales⋈returns⋈item⋈store⋈date⋈customer join aggregated per
# (product, item, store, year), then the aggregate self-joined
# 1999-vs-2000 on (item, store) keeping pairs whose repeat count did
# not grow — the classic "did the repeat business shrink" pass.
_Q64_BODY = """
cs1 as (
  select i_product_name as product_name, i_item_sk as item_sk,
         s_store_name as store_name, d_year as syear,
         cast(count(*) as bigint) as cnt,
         cast(sum(cast(round(ss_ext_sales_price * 100, 0) as bigint))
              as bigint) as sales_cents,
         cast(sum(sr_return_amt) as bigint) as returns_cents
  from tpcds_store_sales
  join tpcds_store_returns
    on ss_ticket_number = sr_ticket_number and ss_item_sk = sr_item_sk
  join tpcds_item on ss_item_sk = i_item_sk
  join tpcds_store on ss_store_sk = s_store_sk
  join tpcds_date_dim on ss_sold_date_sk = d_date_sk
  join tpcds_cust on ss_customer_sk = c_customer_sk
  group by i_product_name, i_item_sk, s_store_name, d_year
)
select a.product_name, a.store_name, a.item_sk,
       a.syear as year1, b.syear as year2,
       a.cnt as cnt1, b.cnt as cnt2,
       a.sales_cents as sales1, b.sales_cents as sales2,
       a.returns_cents as returns1, b.returns_cents as returns2
from cs1 a
join cs1 b on a.item_sk = b.item_sk and a.store_name = b.store_name
where a.syear = 1999 and b.syear = 2000 and b.cnt <= a.cnt
order by a.product_name, a.store_name, a.item_sk
limit 100
"""


# q78 shape (three-channel netting with left-join null-guards): per
# (year, item, customer) sums of store sales NOT returned (left join
# returns on (ticket, item), keep null), likewise web and catalog,
# then store vs other-channel ratio. floor-to-2-decimals, never
# round(): a ratio like 1/8 sits exactly on the half-cent midpoint
# where Spark HALF_UP and DuckDB diverge.
_Q78_BODY = """
sss as (
  select d_year as sold_year, ss_item_sk as item, ss_customer_sk as cust,
         cast(sum(cast(ss_quantity as bigint)) as bigint) as ss_qty,
         cast(sum(cast(round(ss_ext_sales_price * 100, 0) as bigint))
              as bigint) as ss_cents
  from tpcds_store_sales
  left join tpcds_store_returns
    on sr_ticket_number = ss_ticket_number and ss_item_sk = sr_item_sk
  join tpcds_date_dim on ss_sold_date_sk = d_date_sk
  where sr_ticket_number is null
  group by d_year, ss_item_sk, ss_customer_sk
),
wss as (
  select d_year as sold_year, ws_item_sk as item,
         ws_bill_customer_sk as cust,
         cast(sum(cast(ws_quantity as bigint)) as bigint) as ws_qty,
         cast(sum(ws_sales_cents) as bigint) as ws_cents
  from tpcds_web_sales
  left join tpcds_web_returns
    on wr_ticket_number = ws_order_number and ws_item_sk = wr_item_sk
  join tpcds_date_dim on ws_sold_date_sk = d_date_sk
  where wr_ticket_number is null
  group by d_year, ws_item_sk, ws_bill_customer_sk
),
css as (
  select d_year as sold_year, cs_item_sk as item,
         cs_bill_customer_sk as cust,
         cast(sum(cast(cs_quantity as bigint)) as bigint) as cs_qty,
         cast(sum(cs_sales_cents) as bigint) as cs_cents
  from tpcds_catalog_sales
  left join tpcds_catalog_returns
    on cr_ticket_number = cs_order_number and cs_item_sk = cr_item_sk
  join tpcds_date_dim on cs_sold_date_sk = d_date_sk
  where cr_ticket_number is null
  group by d_year, cs_item_sk, cs_bill_customer_sk
)
select sss.sold_year, sss.item as item_sk, sss.cust as customer_sk,
       floor(cast(ss_qty as double)
             / (coalesce(ws_qty, 0) + coalesce(cs_qty, 0)) * 100) / 100
         as ratio,
       ss_qty, ss_cents,
       coalesce(ws_qty, 0) + coalesce(cs_qty, 0) as other_chan_qty,
       coalesce(ws_cents, 0) + coalesce(cs_cents, 0) as other_chan_cents
from sss
left join wss on wss.sold_year = sss.sold_year and wss.item = sss.item
             and wss.cust = sss.cust
left join css on css.sold_year = sss.sold_year and css.item = sss.item
             and css.cust = sss.cust
where (coalesce(ws_qty, 0) > 0 or coalesce(cs_qty, 0) > 0)
  and sss.sold_year = 1999
order by item_sk, customer_sk
limit 100
"""


# q9 shape (scalar CASE subqueries): five quantity buckets, each
# picking one of two bucket statistics based on a scalar count — ten
# uncorrelated scalar subqueries feeding one projected row. Averages
# floor to whole cents (exact bigint sum / exact count: one double
# division, then floor — bit-identical across engines).
_Q9_BODY = """
buckets as (
  select cast(floor((ss_quantity - 1) / 10) as int) as b,
         cast(count(*) as bigint) as n,
         cast(floor(avg(cast(round(ss_ext_sales_price * 100, 0)
                             as bigint))) as bigint) as avg_sales_cents,
         cast(floor(avg(cast(round(ss_coupon_amt * 100, 0)
                             as bigint))) as bigint) as avg_coupon_cents
  from tpcds_store_sales
  where ss_quantity between 1 and 50
  group by cast(floor((ss_quantity - 1) / 10) as int)
)
select
  case when (select n from buckets where b = 0) > 30000
       then (select avg_sales_cents from buckets where b = 0)
       else (select avg_coupon_cents from buckets where b = 0)
  end as bucket1,
  case when (select n from buckets where b = 1) > 30000
       then (select avg_sales_cents from buckets where b = 1)
       else (select avg_coupon_cents from buckets where b = 1)
  end as bucket2,
  case when (select n from buckets where b = 2) > 30000
       then (select avg_sales_cents from buckets where b = 2)
       else (select avg_coupon_cents from buckets where b = 2)
  end as bucket3,
  case when (select n from buckets where b = 3) > 30000
       then (select avg_sales_cents from buckets where b = 3)
       else (select avg_coupon_cents from buckets where b = 3)
  end as bucket4,
  case when (select n from buckets where b = 4) > 30000
       then (select avg_sales_cents from buckets where b = 4)
       else (select avg_coupon_cents from buckets where b = 4)
  end as bucket5
from (select 1 as one) t
"""


# q59 shape (week-over-week store comparison): per-(store, month)
# sales pivoted over day-of-week slots, the 1999 vector joined to the
# 2000 vector of the SAME (store, month), one ratio per slot.
# floor-to-4-decimals on the double ratio (division of exact cents).
_Q59_BODY = """
wss as (
  select d_year, ss_store_sk as store_sk, d_moy as moy,
         cast(sum(case when d_dow = 0 then
           cast(round(ss_ext_sales_price * 100, 0) as bigint)
           else 0 end) as bigint) as sun_cents,
         cast(sum(case when d_dow = 1 then
           cast(round(ss_ext_sales_price * 100, 0) as bigint)
           else 0 end) as bigint) as mon_cents,
         cast(sum(case when d_dow = 2 then
           cast(round(ss_ext_sales_price * 100, 0) as bigint)
           else 0 end) as bigint) as tue_cents,
         cast(sum(case when d_dow = 3 then
           cast(round(ss_ext_sales_price * 100, 0) as bigint)
           else 0 end) as bigint) as wed_cents,
         cast(sum(case when d_dow = 4 then
           cast(round(ss_ext_sales_price * 100, 0) as bigint)
           else 0 end) as bigint) as thu_cents,
         cast(sum(case when d_dow = 5 then
           cast(round(ss_ext_sales_price * 100, 0) as bigint)
           else 0 end) as bigint) as fri_cents,
         cast(sum(case when d_dow = 6 then
           cast(round(ss_ext_sales_price * 100, 0) as bigint)
           else 0 end) as bigint) as sat_cents
  from tpcds_store_sales, tpcds_date_dim
  where ss_sold_date_sk = d_date_sk
  group by d_year, ss_store_sk, d_moy
)
select s_store_name, y1.store_sk as store_sk, y1.moy as moy,
       floor(cast(y1.sun_cents as double)
             / nullif(y2.sun_cents, 0) * 10000) / 10000 as sun_ratio,
       floor(cast(y1.mon_cents as double)
             / nullif(y2.mon_cents, 0) * 10000) / 10000 as mon_ratio,
       floor(cast(y1.tue_cents as double)
             / nullif(y2.tue_cents, 0) * 10000) / 10000 as tue_ratio,
       floor(cast(y1.wed_cents as double)
             / nullif(y2.wed_cents, 0) * 10000) / 10000 as wed_ratio,
       floor(cast(y1.thu_cents as double)
             / nullif(y2.thu_cents, 0) * 10000) / 10000 as thu_ratio,
       floor(cast(y1.fri_cents as double)
             / nullif(y2.fri_cents, 0) * 10000) / 10000 as fri_ratio,
       floor(cast(y1.sat_cents as double)
             / nullif(y2.sat_cents, 0) * 10000) / 10000 as sat_ratio
from wss y1
join wss y2 on y1.store_sk = y2.store_sk and y1.moy = y2.moy
join tpcds_store on y1.store_sk = s_store_sk
where y1.d_year = 1999 and y2.d_year = 2000
order by store_sk, moy
limit 100
"""


# q65 shape (scalar-per-group threshold): (store, item) revenue vs 10%
# of that store's average item revenue — a derived aggregate joined
# against its own per-store re-aggregation.
_Q65_BODY = """
sa as (
  select ss_store_sk as store_sk, ss_item_sk as item_sk,
         cast(sum(cast(round(ss_sales_price * 100, 0) as bigint))
              as bigint) as revenue_cents
  from tpcds_store_sales, tpcds_date_dim
  where ss_sold_date_sk = d_date_sk and d_month_seq between 100 and 150
  group by ss_store_sk, ss_item_sk
),
sb as (
  select store_sk, sum(revenue_cents) * 1.0 / count(*) as ave
  from sa group by store_sk
)
select sa.store_sk, s_store_name, i_item_id, sa.revenue_cents
from sa, sb, tpcds_store, tpcds_item
where sa.store_sk = sb.store_sk
  and cast(sa.revenue_cents as double) <= 0.1 * sb.ave
  and sa.store_sk = s_store_sk and sa.item_sk = i_item_sk
order by sa.store_sk, i_item_id
limit 100
"""


# q75 shape (prior-year three-channel decline): all three channels
# unioned into one (year, brand, class, category, manufact) aggregate,
# self-joined current-vs-prior year, kept where the quantity ratio
# fell below 0.9 — the classic "which product lines shrank" report.
_Q75_BODY = """
all_sales as (
  select year_, i_brand_id, i_class_id, i_category_id, i_manufact_id,
         cast(sum(qty) as bigint) as sales_cnt,
         cast(sum(cents) as bigint) as sales_cents
  from (
    select d_year as year_, i_brand_id, i_class_id, i_category_id,
           i_manufact_id, cast(ss_quantity as bigint) as qty,
           cast(round(ss_ext_sales_price * 100, 0) as bigint) as cents
    from tpcds_store_sales, tpcds_item, tpcds_date_dim
    where ss_item_sk = i_item_sk and ss_sold_date_sk = d_date_sk
    union all
    select d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
           cast(cs_quantity as bigint), cs_sales_cents
    from tpcds_catalog_sales, tpcds_item, tpcds_date_dim
    where cs_item_sk = i_item_sk and cs_sold_date_sk = d_date_sk
    union all
    select d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
           cast(ws_quantity as bigint), ws_sales_cents
    from tpcds_web_sales, tpcds_item, tpcds_date_dim
    where ws_item_sk = i_item_sk and ws_sold_date_sk = d_date_sk
  ) t
  group by year_, i_brand_id, i_class_id, i_category_id, i_manufact_id
)
select prev.year_ as prev_year, curr.year_ as curr_year,
       curr.i_brand_id, curr.i_class_id, curr.i_category_id,
       curr.i_manufact_id,
       prev.sales_cnt as prev_yr_cnt, curr.sales_cnt as curr_yr_cnt,
       curr.sales_cnt - prev.sales_cnt as sales_cnt_diff,
       curr.sales_cents - prev.sales_cents as sales_cents_diff
from all_sales curr
join all_sales prev
  on curr.i_brand_id = prev.i_brand_id
 and curr.i_class_id = prev.i_class_id
 and curr.i_category_id = prev.i_category_id
 and curr.i_manufact_id = prev.i_manufact_id
where curr.year_ = 2000 and prev.year_ = 1999
  and cast(curr.sales_cnt as double) / prev.sales_cnt < 0.9
order by sales_cnt_diff, sales_cents_diff,
         curr.i_brand_id, curr.i_class_id, curr.i_category_id,
         curr.i_manufact_id
limit 100
"""


# q76 shape (null-key channel union): rows whose channel-specific
# foreign key is NULL (synthesized with nullif on the derived facts),
# unioned across the three channels with channel/column literals,
# grouped by (channel, col_name, year, quarter, category).
_Q76_BODY = """
nullkey_rows as (
  select 'store' as channel, 'ss_hdemo_sk' as col_name, d_year, d_qoy,
         i_category,
         cast(round(ss_ext_sales_price * 100, 0) as bigint) as cents
  from tpcds_store_sales, tpcds_item, tpcds_date_dim
  where nullif(cast(ss_hdemo_sk % 7 as int), 0) is null
    and ss_item_sk = i_item_sk and ss_sold_date_sk = d_date_sk
  union all
  select 'web', 'ws_ship_hdemo_sk', d_year, d_qoy, i_category,
         ws_sales_cents
  from tpcds_web_sales, tpcds_item, tpcds_date_dim
  where nullif(cast(ws_ship_hdemo_sk % 5 as int), 0) is null
    and ws_item_sk = i_item_sk and ws_sold_date_sk = d_date_sk
  union all
  select 'catalog', 'cs_bill_customer_sk', d_year, d_qoy, i_category,
         cs_sales_cents
  from tpcds_catalog_sales, tpcds_item, tpcds_date_dim
  where nullif(cast(cs_bill_customer_sk % 3 as int), 0) is null
    and cs_item_sk = i_item_sk and cs_sold_date_sk = d_date_sk
)
select channel, col_name, d_year, d_qoy, i_category,
       cast(count(*) as bigint) as sales_cnt,
       cast(sum(cents) as bigint) as sales_cents
from nullkey_rows
group by channel, col_name, d_year, d_qoy, i_category
order by channel, col_name, d_year, d_qoy, i_category
limit 100
"""


# q90 shape (am/pm ratio): the ratio of two independent scalar counts
# (morning vs evening web sales for three-dependent households) — two
# single-row aggregates cross-joined, one division.
_Q90_BODY = """
am as (
  select cast(count(*) as bigint) as amc
  from tpcds_web_sales, tpcds_household_demographics, tpcds_time_dim
  where ws_ship_hdemo_sk = hd_demo_sk and ws_sold_time_sk = t_time_sk
    and t_hour between 8 and 9 and hd_dep_count = 3
),
pm as (
  select cast(count(*) as bigint) as pmc
  from tpcds_web_sales, tpcds_household_demographics, tpcds_time_dim
  where ws_ship_hdemo_sk = hd_demo_sk and ws_sold_time_sk = t_time_sk
    and t_hour between 19 and 20 and hd_dep_count = 3
)
select amc, pmc,
       floor(cast(amc as double) / nullif(pmc, 0) * 10000) / 10000
         as am_pm_ratio
from am, pm
"""



# q4 shape (three-channel year-over-year growth): one UNION ALL
# year_total CTE tagged by channel, self-joined six ways; customers
# whose catalog growth beats BOTH store and web growth. Growth-ratio
# comparisons are exact integer cross-multiplications (cents are
# bigint), so no float boundary can flip a row between engines.
_Q04_BODY = """
yt as (
  select ss_customer_sk as c, 's' as chan, d_year as yr,
         sum(cast(round(ss_sales_price * 100, 0) as bigint)) as cents
  from tpcds_store_sales, tpcds_date_dim
  where ss_sold_date_sk = d_date_sk and d_year in (1999, 2000)
  group by ss_customer_sk, d_year
  union all
  select ws_bill_customer_sk, 'w', d_year, sum(ws_sales_cents)
  from tpcds_web_sales, tpcds_date_dim
  where ws_sold_date_sk = d_date_sk and d_year in (1999, 2000)
  group by ws_bill_customer_sk, d_year
  union all
  select cs_bill_customer_sk, 'c', d_year, sum(cs_sales_cents)
  from tpcds_catalog_sales, tpcds_date_dim
  where cs_sold_date_sk = d_date_sk and d_year in (1999, 2000)
  group by cs_bill_customer_sk, d_year
)
select cu.c_customer_id, cu.c_first_name, cu.c_last_name
from yt s1, yt s2, yt c1, yt c2, yt w1, yt w2, tpcds_cust cu
where s1.c = s2.c and s1.c = c1.c and s1.c = c2.c
  and s1.c = w1.c and s1.c = w2.c and s1.c = cu.c_customer_sk
  and s1.chan = 's' and s2.chan = 's' and c1.chan = 'c' and c2.chan = 'c'
  and w1.chan = 'w' and w2.chan = 'w'
  and s1.yr = 1999 and s2.yr = 2000 and c1.yr = 1999 and c2.yr = 2000
  and w1.yr = 1999 and w2.yr = 2000
  and s1.cents > 0 and c1.cents > 0 and w1.cents > 0
  and c2.cents * s1.cents > s2.cents * c1.cents
  and c2.cents * w1.cents > w2.cents * c1.cents
order by c_customer_id
limit 100
"""

# q35 shape (multi-channel EXISTS gate + demographic rollup):
# customers active in stores AND (web OR catalog) in the first three
# quarters, grouped by address state and demographics with dependent
# stats. The OR-of-EXISTS is the famous decorrelation stressor.
_Q35_BODY = """
active as (
  select c.c_customer_sk, c.c_current_cdemo_sk, c.c_current_addr_sk
  from tpcds_cust c
  where exists (select 1 from tpcds_store_sales ss, tpcds_date_dim d
                where c.c_customer_sk = ss.ss_customer_sk
                  and ss.ss_sold_date_sk = d.d_date_sk
                  and d.d_year = 1999 and d.d_qoy < 4)
    and (exists (select 1 from tpcds_web_sales ws, tpcds_date_dim d
                 where c.c_customer_sk = ws.ws_bill_customer_sk
                   and ws.ws_sold_date_sk = d.d_date_sk
                   and d.d_year = 1999 and d.d_qoy < 4)
      or exists (select 1 from tpcds_catalog_sales cs, tpcds_date_dim d
                 where c.c_customer_sk = cs.cs_bill_customer_sk
                   and cs.cs_sold_date_sk = d.d_date_sk
                   and d.d_year = 1999 and d.d_qoy < 4))
)
select ca.ca_state, cd.cd_gender, cd.cd_marital_status,
       cast(count(*) as bigint) as cnt,
       cast(min(cd.cd_dep_count) as int) as min_dep,
       cast(max(cd.cd_dep_count) as int) as max_dep,
       cast(sum(cd.cd_dep_count) as bigint) as sum_dep
from active a, tpcds_customer_address ca, tpcds_customer_demographics cd
where a.c_current_addr_sk = ca.ca_address_sk
  and a.c_current_cdemo_sk = cd.cd_demo_sk
group by ca.ca_state, cd.cd_gender, cd.cd_marital_status
order by ca_state, cd_gender, cd_marital_status
"""

# q43 shape (day-of-week pivot): one star join, seven conditional
# sums — the classic sum(case) pivot over a tiny dimension attribute.
_Q43_BODY = """
by_store as (
  select s.s_store_name, s.s_store_id,
       cast(sum(case when d.d_dow = 0 then
         cast(round(ss.ss_sales_price * 100, 0) as bigint)
         else 0 end) as bigint) as sun_cents,
       cast(sum(case when d.d_dow = 1 then
         cast(round(ss.ss_sales_price * 100, 0) as bigint)
         else 0 end) as bigint) as mon_cents,
       cast(sum(case when d.d_dow = 2 then
         cast(round(ss.ss_sales_price * 100, 0) as bigint)
         else 0 end) as bigint) as tue_cents,
       cast(sum(case when d.d_dow = 3 then
         cast(round(ss.ss_sales_price * 100, 0) as bigint)
         else 0 end) as bigint) as wed_cents,
       cast(sum(case when d.d_dow = 4 then
         cast(round(ss.ss_sales_price * 100, 0) as bigint)
         else 0 end) as bigint) as thu_cents,
       cast(sum(case when d.d_dow = 5 then
         cast(round(ss.ss_sales_price * 100, 0) as bigint)
         else 0 end) as bigint) as fri_cents,
       cast(sum(case when d.d_dow = 6 then
         cast(round(ss.ss_sales_price * 100, 0) as bigint)
         else 0 end) as bigint) as sat_cents
  from tpcds_store_sales ss, tpcds_date_dim d, tpcds_store s
  where ss.ss_sold_date_sk = d.d_date_sk and ss.ss_store_sk = s.s_store_sk
    and d.d_year = 2000
  group by s.s_store_name, s.s_store_id
)
select * from by_store
order by s_store_name, s_store_id
limit 100
"""

# q48 shape (OR-of-AND demographic bands): one quantity sum where the
# predicate is a disjunction of (demographic x price band) and
# (state x quantity band) conjunctions — the pushdown/CNF stressor.
_Q48_BODY = """
q as (
  select cast(sum(ss.ss_quantity) as bigint) as qty
  from tpcds_store_sales ss, tpcds_store s, tpcds_customer_demographics cd,
     tpcds_customer_address ca, tpcds_date_dim d
where s.s_store_sk = ss.ss_store_sk
  and ss.ss_sold_date_sk = d.d_date_sk and d.d_year = 2000
  and ss.ss_cdemo_sk = cd.cd_demo_sk
  and ss.ss_addr_sk = ca.ca_address_sk
  and ((cd.cd_marital_status = 'M'
        and cd.cd_education_status = '4 yr Degree'
        and ss.ss_sales_price between 2000.00 and 3000.00)
    or (cd.cd_marital_status = 'D'
        and cd.cd_education_status = 'Primary'
        and ss.ss_sales_price between 500.00 and 2000.00)
    or (cd.cd_marital_status = 'S'
        and cd.cd_education_status = 'College'
        and ss.ss_sales_price between 3000.00 and 5000.00))
  and ((ca.ca_state in ('TN', 'GA', 'SC')
        and ss.ss_quantity between 1 and 20)
    or (ca.ca_state in ('MI', 'OH', 'TX')
        and ss.ss_quantity between 21 and 35)
    or (ca.ca_state in ('CA', 'WA', 'NY')
        and ss.ss_quantity between 36 and 50))
)
select qty from q
"""

# q53 shape (quarterly manufacturer revenue vs its own average):
# grouped sums, a partition-average window on the grouped result, and
# a >10%-deviation filter — QUALIFY expressed as a nested select.
_Q53_BODY = """
mq as (
  select i.i_manufact_id as mid, d.d_qoy as qoy,
         sum(cast(round(ss.ss_sales_price * 100, 0) as bigint)) as cents
  from tpcds_store_sales ss, tpcds_item i, tpcds_date_dim d
  where ss.ss_item_sk = i.i_item_sk and ss.ss_sold_date_sk = d.d_date_sk
    and d.d_year = 2000
    and i.i_category in ('Category#1', 'Category#2', 'Category#3')
  group by i.i_manufact_id, d.d_qoy
),
win as (
  select mid, qoy, cents,
         avg(cast(cents as double)) over (partition by mid) as avg_cents
  from mq
)
select mid, qoy, cast(cents as bigint) as sum_cents,
       cast(floor(avg_cents) as bigint) as avg_cents_floor
from win
where case when avg_cents > 0
           then abs(cents - avg_cents) / avg_cents else null end > 0.1
order by avg_cents_floor, sum_cents, mid, qoy
limit 100
"""

# q61 shape (promotional-sales ratio): two scalar star aggregates —
# promoted sales (promotion join + channel filter) over all sales on
# the same slice — cross-joined into one ratio row.
_Q61_BODY = """
promo as (
  select sum(cast(round(ss.ss_sales_price * 100, 0) as bigint)) as cents
  from tpcds_store_sales ss, tpcds_promotion p, tpcds_date_dim d,
       tpcds_item i, tpcds_cust c, tpcds_customer_address ca
  where ss.ss_promo_sk = p.p_promo_sk
    and ss.ss_sold_date_sk = d.d_date_sk
    and ss.ss_item_sk = i.i_item_sk
    and ss.ss_customer_sk = c.c_customer_sk
    and c.c_current_addr_sk = ca.ca_address_sk
    and (p.p_channel_email = 'Y' or p.p_channel_event = 'Y')
    and d.d_year = 2000 and d.d_moy = 11
    and i.i_category = 'Category#4'
    and ca.ca_state in ('TN', 'GA', 'SC', 'MI', 'OH')
),
total as (
  select sum(cast(round(ss.ss_sales_price * 100, 0) as bigint)) as cents
  from tpcds_store_sales ss, tpcds_date_dim d,
       tpcds_item i, tpcds_cust c, tpcds_customer_address ca
  where ss.ss_sold_date_sk = d.d_date_sk
    and ss.ss_item_sk = i.i_item_sk
    and ss.ss_customer_sk = c.c_customer_sk
    and c.c_current_addr_sk = ca.ca_address_sk
    and d.d_year = 2000 and d.d_moy = 11
    and i.i_category = 'Category#4'
    and ca.ca_state in ('TN', 'GA', 'SC', 'MI', 'OH')
)
select cast(coalesce(p.cents, 0) as bigint) as promo_cents,
       cast(t.cents as bigint) as total_cents,
       case when t.cents > 0
            then floor(cast(coalesce(p.cents, 0) as double)
                       * 10000 / t.cents) / 100
            else null end as promo_pct
from promo p, total t
"""

# q62 shape (ship-lag buckets by warehouse): conditional-sum buckets
# over the sold->ship day gap, grouped by warehouse.
_Q62_BODY = """
lag_buckets as (
  select w.w_warehouse_name,
       cast(sum(case when cs.cs_ship_date_sk - cs.cs_sold_date_sk <= 10
                     then 1 else 0 end) as bigint) as d_10,
       cast(sum(case when cs.cs_ship_date_sk - cs.cs_sold_date_sk > 10
                      and cs.cs_ship_date_sk - cs.cs_sold_date_sk <= 20
                     then 1 else 0 end) as bigint) as d_11_20,
       cast(sum(case when cs.cs_ship_date_sk - cs.cs_sold_date_sk > 20
                      and cs.cs_ship_date_sk - cs.cs_sold_date_sk <= 30
                     then 1 else 0 end) as bigint) as d_21_30,
       cast(sum(case when cs.cs_ship_date_sk - cs.cs_sold_date_sk > 30
                     then 1 else 0 end) as bigint) as d_over_30
  from tpcds_catalog_sales cs, tpcds_warehouse w, tpcds_date_dim d
  where cs.cs_warehouse_sk = w.w_warehouse_sk
    and cs.cs_ship_date_sk = d.d_date_sk and d.d_year in (1999, 2000)
  group by w.w_warehouse_name
)
select * from lag_buckets
order by w_warehouse_name
"""

# q72 shape (the notorious inventory mega-join): catalog sales joined
# to weekly inventory snapshots through TWO date-dim aliases on
# d_week_seq equality, a third date alias for the ship-lag filter,
# demographics gates, and a filtered LEFT JOIN to promotion feeding
# conditional counts. The item-keyed sales x inventory fan-out before
# the week filter is the point of the shape.
# r13 join-order restructure (pure inner-join reassociation — row set
# provably unchanged, and the shared oracle runs the same text): the
# original TPC-DS syntax joins catalog_sales to inventory on ITEM
# ALONE and only equates d1.d_week_seq = d2.d_week_seq three joins
# later, so with no table statistics (no CBO reorder) every sale row
# first multiplies by every inventory snapshot of its item across all
# weeks and warehouses — the classic q72 explosion (guide §3.3).
# Pre-joining inventory to its date row exposes the week as a column
# of the inventory side, the sale side is first reduced by its
# selective demographic/date dimensions, and the inventory join then
# keys on (item, week) directly — no intermediate blow-up.
_Q72_BODY = """
inv_sales as (
  select i.i_product_name, w.w_warehouse_name, iw.inv_week as d_week_seq,
       cast(sum(case when p.p_promo_sk is null then 1 else 0 end)
            as bigint) as no_promo,
       cast(sum(case when p.p_promo_sk is not null then 1 else 0 end)
            as bigint) as promo,
       cast(count(*) as bigint) as total_cnt
  from tpcds_catalog_sales cs
  join tpcds_date_dim d1 on cs.cs_sold_date_sk = d1.d_date_sk
  join tpcds_date_dim d3 on cs.cs_ship_date_sk = d3.d_date_sk
  join tpcds_household_demographics hd
    on cs.cs_bill_hdemo_sk = hd.hd_demo_sk
  join tpcds_customer_demographics cd
    on cs.cs_bill_cdemo_sk = cd.cd_demo_sk
  join tpcds_item i on i.i_item_sk = cs.cs_item_sk
  join (select inv.inv_item_sk, inv.inv_warehouse_sk,
               inv.inv_quantity_on_hand, d2.d_week_seq as inv_week
        from tpcds_inventory inv
        join tpcds_date_dim d2 on inv.inv_date_sk = d2.d_date_sk) iw
    on cs.cs_item_sk = iw.inv_item_sk and iw.inv_week = d1.d_week_seq
  join tpcds_warehouse w on w.w_warehouse_sk = iw.inv_warehouse_sk
  left join tpcds_promotion p
    on cs.cs_promo_sk = p.p_promo_sk and p.p_channel_email = 'Y'
  where iw.inv_quantity_on_hand < cs.cs_quantity
    and d3.d_date_sk > d1.d_date_sk + 5
    and hd.hd_buy_potential = '>10000'
    and d1.d_year = 1999
    and cd.cd_marital_status = 'D'
  group by i.i_product_name, w.w_warehouse_name, iw.inv_week
)
select * from inv_sales
order by total_cnt desc, i_product_name, w_warehouse_name, d_week_seq
limit 100
"""

# q87 shape (three-channel EXCEPT): distinct store (customer, week)
# visits minus web minus catalog, counted — the set-difference twin
# of q38's INTERSECT.
_Q87_BODY = """
only_store as (
  (select distinct c.c_customer_id as cid, d.d_week_seq as wk
   from tpcds_store_sales ss, tpcds_date_dim d, tpcds_cust c
   where ss.ss_sold_date_sk = d.d_date_sk
     and ss.ss_customer_sk = c.c_customer_sk and d.d_year = 2000)
  except
  (select distinct c.c_customer_id, d.d_week_seq
   from tpcds_web_sales ws, tpcds_date_dim d, tpcds_cust c
   where ws.ws_sold_date_sk = d.d_date_sk
     and ws.ws_bill_customer_sk = c.c_customer_sk and d.d_year = 2000)
  except
  (select distinct c.c_customer_id, d.d_week_seq
   from tpcds_catalog_sales cs, tpcds_date_dim d, tpcds_cust c
   where cs.cs_sold_date_sk = d.d_date_sk
     and cs.cs_bill_customer_sk = c.c_customer_sk and d.d_year = 2000)
)
select cast(count(*) as bigint) as cnt from only_store
"""

# q98 shape (class revenue ratio): per-item revenue with its share of
# the class total via a partition-sum window over the grouped result.
_Q98_BODY = """
per_item as (
  select i.i_item_id, i.i_class, i.i_category,
         sum(cast(round(ss.ss_sales_price * 100, 0) as bigint))
           as itemrevenue
  from tpcds_store_sales ss, tpcds_item i, tpcds_date_dim d
  where ss.ss_item_sk = i.i_item_sk and ss.ss_sold_date_sk = d.d_date_sk
    and i.i_category in ('Category#5', 'Category#6', 'Category#7')
    and d.d_date_sk between 2451180 and 2451209
  group by i.i_item_id, i.i_class, i.i_category
)
select i_item_id, i_class, i_category,
       cast(itemrevenue as bigint) as itemrevenue,
       floor(cast(itemrevenue as double) * 10000
             / sum(itemrevenue) over (partition by i_class)) / 100
         as revenueratio
from per_item
order by i_category, i_class, i_item_id, itemrevenue
"""


_DECORRELATION_VIEWS = _DIMS_SQL + ", " + _RETURNS_SQL + ", "


def _decorrelated(name: str, body: str) -> Query:
    """The row of a query written as a CTE body over the decorrelation
    views: Spark runs it over the registered views, and its DuckDB
    oracle runs the same body after those views spelled out as CTEs."""
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register_decorrelation_views(spark, sf_dir)
        return spark.sql("with " + body)
    return Query(name, build, _DECORRELATION_VIEWS + body)


def q_tpcds_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q14 with the ``cross_items`` CTE materialized ONCE per
    invocation (r14, guide §3.3 "materialising an intermediate
    truncates the plan"). The SQL text plans the three-channel
    INTERSECT under EACH of the three ``IN (select ci_item_sk from
    cross_items)`` consumers; AQE dedupes the duplicate exchanges at
    runtime (verified r13 §20 — ReusedExchange counts identical with
    and without hints), but the 4k-line plan is still analyzed,
    optimized and adaptively re-planned with three copies of the
    subtree, and that driver-side cost dominates the row's wall at
    bench scale. Splitting the CTE out, localCheckpoint-ing its
    (bounded: distinct item ids) result and pointing the consumers at
    the materialized view computes the IDENTICAL set from the
    IDENTICAL CTE text — the DuckDB oracle runs the unsplit
    _Q14_BODY, and the hash must (and does) still match. Interleaved
    A/B: 2.80/2.85/2.43s -> 2.34/2.63/2.14s. The checkpoint is
    per-invocation (recomputed from parquet every call), not a cache.
    Its temp view has a per-invocation name and is dropped once the
    consumer is analyzed (``spark.sql`` analyzes eagerly), so
    concurrent invocations do not race on one session-global name.
    """
    _register_decorrelation_views(spark, sf_dir)
    head, rest = _Q14_BODY.split("),\navg_sales", 1)
    target = "select ci_item_sk from cross_items"
    assert rest.count(target) == 3, f"q14 body drifted: {target!r} is not used 3 times"
    ci = spark.sql("with " + head + ") " + target).localCheckpoint()
    view = f"tpcds_q14_cross_items_{uuid.uuid4().hex}"
    ci.createOrReplaceTempView(view)
    try:
        return spark.sql(("with avg_sales" + rest).replace(
            target, f"select ci_item_sk from {view}"))
    finally:
        spark._jsparkSession.sessionState().catalog().dropTempView(view)


ROWS = (
    Query("tpcds_q73", q_tpcds_q73, ORACLE_TPCDS_Q73),
    _decorrelated("tpcds_q01", _Q01_BODY),
    _decorrelated("tpcds_q06", _Q06_BODY),
    _decorrelated("tpcds_q30", _Q30_BODY),
    _decorrelated("tpcds_q81", _Q81_BODY),
    _decorrelated("tpcds_q32", _Q32_BODY),
    _decorrelated("tpcds_q47", _Q47_BODY),
    _decorrelated("tpcds_q16", _Q16_BODY),
    _decorrelated("tpcds_q38", _Q38_BODY),
    _decorrelated("tpcds_q71", _Q71_BODY),
    _decorrelated("tpcds_q88", _Q88_BODY),
    _decorrelated("tpcds_q44", _Q44_BODY),
    _decorrelated("tpcds_q70", _Q70_BODY),
    _decorrelated("tpcds_q23", _Q23_BODY),
    _decorrelated("tpcds_q51", _Q51_BODY),
    _decorrelated("tpcds_q11", _Q11_BODY),
    _decorrelated("tpcds_q93", _Q93_BODY),
    _decorrelated("tpcds_q97", _Q97_BODY),
    _decorrelated("tpcds_q39", _Q39_BODY),
    _decorrelated("tpcds_q49", _Q49_BODY),
    _decorrelated("tpcds_q95", _Q95_BODY),
    _decorrelated("tpcds_q29", _Q29_BODY),
    _decorrelated("tpcds_q31", _Q31_BODY),
    Query("tpcds_q14", q_tpcds_q14, _DECORRELATION_VIEWS + _Q14_BODY),
    _decorrelated("tpcds_q64", _Q64_BODY),
    _decorrelated("tpcds_q78", _Q78_BODY),
    _decorrelated("tpcds_q09", _Q9_BODY),
    _decorrelated("tpcds_q59", _Q59_BODY),
    _decorrelated("tpcds_q65", _Q65_BODY),
    _decorrelated("tpcds_q75", _Q75_BODY),
    _decorrelated("tpcds_q76", _Q76_BODY),
    _decorrelated("tpcds_q90", _Q90_BODY),
    Query("tpcds_q03", q_tpcds_q3, ORACLE_TPCDS_Q3),
    Query("tpcds_q07", q_tpcds_q7, ORACLE_TPCDS_Q7),
    Query("tpcds_q42", q_tpcds_q42, ORACLE_TPCDS_Q42),
    Query("tpcds_q52", q_tpcds_q52, ORACLE_TPCDS_Q52),
    Query("tpcds_q55", q_tpcds_q55, ORACLE_TPCDS_Q55),
    Query("tpcds_q67", q_tpcds_q67, ORACLE_TPCDS_Q67),
    Query("tpcds_q68", q_tpcds_q68, ORACLE_TPCDS_Q68),
    Query("tpcds_q96", q_tpcds_q96, ORACLE_TPCDS_Q96),
    _decorrelated("tpcds_q04", _Q04_BODY),
    _decorrelated("tpcds_q35", _Q35_BODY),
    _decorrelated("tpcds_q43", _Q43_BODY),
    _decorrelated("tpcds_q48", _Q48_BODY),
    _decorrelated("tpcds_q53", _Q53_BODY),
    _decorrelated("tpcds_q61", _Q61_BODY),
    _decorrelated("tpcds_q62", _Q62_BODY),
    _decorrelated("tpcds_q72", _Q72_BODY),
    _decorrelated("tpcds_q87", _Q87_BODY),
    _decorrelated("tpcds_q98", _Q98_BODY),
)
