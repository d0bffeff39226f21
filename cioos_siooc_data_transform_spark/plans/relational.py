"""Relational [Q] operators from SURVEY.md §2, expressed on the synthetic
testdata tables with DuckDB oracle twins.

Conventions (driver contract):
- every computed column is aliased identically in Spark and oracle SQL;
- float aggregates are rounded identically on both sides (sum→2dp,
  avg/ratios→6dp) so the value-hash is robust to summation order;
- derived integer columns are cast to BIGINT on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.operators.aggregations import (
    channel_minmax,
    count_validation,
    infer_time_increment,
)
from cioos_siooc_data_transform_spark.operators.joins import (
    containment_code_join,
    reconcile_anti,
    reconcile_semi,
)
from cioos_siooc_data_transform_spark.operators.routing import route_channels
from cioos_siooc_data_transform_spark.operators.windows import (
    occurrence_numbering,
    regular_timeseries,
)
from cioos_siooc_data_transform_spark.plans.registry import register


from cioos_siooc_data_transform_spark.session import read_table as _t


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (A1/A2 aggregation shape).
# ---------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 6)                                        AS avg_qty,
           round(avg(l_extendedprice), 6)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# P1/S5: keyword-containment filter + projection (IDT/utils.py:15-18,
# IDT/ObsFile.py:378-390).
# ---------------------------------------------------------------------------
@register(
    "filter_projection",
    oracle="""
    SELECT p_partkey, p_name, upper(p_brand) AS brand_u
    FROM part
    WHERE lower(p_name) LIKE '%red%' OR lower(p_name) LIKE '%blue%'
    """,
)
def filter_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    name = F.lower(F.col("p_name"))
    return part.filter(name.contains("red") | name.contains("blue")).select(
        "p_partkey", "p_name", F.upper("p_brand").alias("brand_u")
    )


# ---------------------------------------------------------------------------
# S7: first-match index = filter + min aggregation (IDT/ObsFile.py:65-73).
# ---------------------------------------------------------------------------
@register(
    "first_match_min",
    oracle="""
    SELECT min(o_orderkey) AS first_key, count(*) AS n_matches
    FROM orders
    WHERE o_orderpriority LIKE '1%'
    """,
)
def first_match_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderpriority").startswith("1")).agg(
        F.min("o_orderkey").alias("first_key"), F.count(F.lit(1)).alias("n_matches")
    )


# ---------------------------------------------------------------------------
# P2: keyword routing ladder with exclusions, unmatched rows dropped
# (IDT/write_ctd_ncfile.py:102-143).
# ---------------------------------------------------------------------------
_ROUTING_RULES = [
    ("widget", ["widget"], ["red"]),
    ("fastener", ["bolt", "ring"], ["small"]),
    ("gear", ["gear"], ["hot"]),
]


@register(
    "case_when_routing",
    oracle="""
    SELECT p_partkey, var_type FROM (
      SELECT p_partkey,
             CASE
               WHEN upper(p_name) LIKE '%WIDGET%' AND NOT (upper(p_name) LIKE '%RED%')
                 THEN 'widget'
               WHEN (upper(p_name) LIKE '%BOLT%' OR upper(p_name) LIKE '%RING%')
                    AND NOT (upper(p_name) LIKE '%SMALL%')
                 THEN 'fastener'
               WHEN upper(p_name) LIKE '%GEAR%' AND NOT (upper(p_name) LIKE '%HOT%')
                 THEN 'gear'
             END AS var_type
      FROM part
    ) WHERE var_type IS NOT NULL
    """,
)
def case_when_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    routed = part.select(
        "p_partkey", route_channels("p_name", _ROUTING_RULES).alias("var_type")
    )
    return routed.filter(F.col("var_type").isNotNull())


# ---------------------------------------------------------------------------
# P3: timestamp-range (incremental age) filter (IDT/utils.py:37-43).
# ---------------------------------------------------------------------------
@register(
    "timestamp_range_filter",
    oracle="""
    SELECT count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
    """,
)
def timestamp_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
    )


# ---------------------------------------------------------------------------
# P4: null-pad masking (IDT/OceanNcVar.py:153-158) — pad value → NULL,
# then aggregates that ignore the masked values.
# ---------------------------------------------------------------------------
@register(
    "null_pad_masking",
    oracle="""
    SELECT l_returnflag,
           count(CASE WHEN l_discount = 0.0 THEN NULL ELSE l_discount END) AS n_nonpad,
           count(*) AS n_rows,
           round(avg(CASE WHEN l_discount = 0.0 THEN NULL ELSE l_discount END), 6) AS avg_nonpad
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def null_pad_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    masked = F.when(F.col("l_discount") == 0.0, F.lit(None)).otherwise(F.col("l_discount"))
    return li.groupBy("l_returnflag").agg(
        F.count(masked).alias("n_nonpad"),
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg(masked), 6).alias("avg_nonpad"),
    )


# ---------------------------------------------------------------------------
# P6/P7/J5: coalesce-chain defaulting (mission←cruise, event←filename←'0000';
# IDT/write_ctd_ncfile.py:43-85).
# ---------------------------------------------------------------------------
@register(
    "coalesce_event_id",
    oracle="""
    SELECT c_custkey,
           lpad(coalesce(
                  nullif(CASE WHEN c_custkey % 3 = 0 THEN CAST(c_custkey % 97 AS VARCHAR) ELSE '' END, ''),
                  nullif(regexp_extract(c_name, '([1-9][0-9]*)$', 1), ''),
                  '0000'), 4, '0') AS event_id,
           coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg
    FROM customer
    """,
)
def coalesce_event_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    primary = F.when(
        F.col("c_custkey") % 3 == 0, (F.col("c_custkey") % 97).cast("string")
    ).otherwise(F.lit(""))
    from_name = F.regexp_extract(F.col("c_name"), r"([1-9][0-9]*)$", 1)
    event = F.coalesce(
        F.nullif(primary, F.lit("")), F.nullif(from_name, F.lit("")), F.lit("0000")
    )
    return cust.select(
        "c_custkey",
        F.lpad(event, 4, "0").alias("event_id"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("OTHER")).alias("seg"),
    )


# ---------------------------------------------------------------------------
# J1 + A3: containment theta join against a small broadcast dimension with
# ALL matching names concatenated sorted, no match → 'None'
# (IDT/ObsFile.py:392-399, IDT/utils.py:70-81).
# ---------------------------------------------------------------------------
@register(
    "geo_containment_join",
    oracle="""
    WITH dim AS (
      SELECT r_name, r_regionkey * 80.0 AS lo, r_regionkey * 80.0 + 120.0 AS hi
      FROM region
    )
    SELECT e.event_id,
           coalesce(nullif(string_agg(d.r_name, '-' ORDER BY d.r_name), ''), 'None') AS geo_code
    FROM events e LEFT JOIN dim d ON e.value >= d.lo AND e.value < d.hi
    GROUP BY e.event_id
    """,
)
def geo_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    region = _t(spark, sf_dir, "region")
    dim = region.select(
        "r_name",
        (F.col("r_regionkey") * 80.0).alias("lo"),
        (F.col("r_regionkey") * 80.0 + 120.0).alias("hi"),
    )
    cond = (events["value"] >= dim["lo"]) & (events["value"] < dim["hi"])
    return containment_code_join(events, dim, "event_id", "r_name", cond, out_col="geo_code")


# ---------------------------------------------------------------------------
# J2: anti/semi reconciliation joins (IDT/utils.py:84-97).
# ---------------------------------------------------------------------------
@register(
    "anti_join_orphans",
    oracle="""
    SELECT o_orderkey FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 2
    )
    """,
)
def anti_join_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 2)
    source = li.select(F.col("l_orderkey").alias("o_orderkey"))
    return reconcile_anti(orders, source, "o_orderkey").select("o_orderkey")


@register(
    "semi_join_present",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    """,
)
def semi_join_present(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    source = li.select(F.col("l_orderkey").alias("o_orderkey"))
    return reconcile_semi(orders, source, "o_orderkey").select("o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# J3: broadcast code-table lookup join chain (IDT/OceanNcVar.py:160-258).
# ---------------------------------------------------------------------------
@register(
    "broadcast_lookup_join",
    oracle="""
    SELECT r_name,
           count(*) AS n_customers,
           CAST(count(DISTINCT n_name) AS BIGINT) AS n_nations,
           round(sum(c_acctbal), 2) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r_name
    """,
)
def broadcast_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
    ).join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.countDistinct("n_name").cast("long").alias("n_nations"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
    )


# ---------------------------------------------------------------------------
# J4: positional schema⋈data join (channel i ↔ data column i;
# IDT/write_ctd_ncfile.py:92-144).
# ---------------------------------------------------------------------------
_POS_WEIGHTS = [(i, round(1.0 + 0.1 * i, 1)) for i in range(1, 8)]


@register(
    "positional_schema_join",
    oracle=f"""
    WITH dim(pos, weight) AS (VALUES {", ".join(f"({p}, CAST({w} AS DOUBLE))" for p, w in _POS_WEIGHTS)})
    SELECT CAST(pos AS BIGINT) AS pos, weight,
           round(sum(l_quantity * weight), 2) AS weighted_qty,
           count(*) AS n_rows
    FROM lineitem JOIN dim ON l_linenumber = pos
    GROUP BY pos, weight
    """,
)
def positional_schema_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dim = spark.createDataFrame(_POS_WEIGHTS, "pos INT, weight DOUBLE")
    joined = li.join(F.broadcast(dim), li["l_linenumber"] == dim["pos"])
    return joined.groupBy(F.col("pos").cast("long").alias("pos"), F.col("weight")).agg(
        F.round(F.sum(F.col("l_quantity") * F.col("weight")), 2).alias("weighted_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# A1: per-group min/max (declared vs recomputed channel bounds,
# IDT/ObsFile.py:328-329).
# ---------------------------------------------------------------------------
@register(
    "minmax_per_group",
    oracle="""
    SELECT l_partkey,
           min(l_extendedprice) AS val_min,
           max(l_extendedprice) AS val_max,
           count(l_extendedprice) AS n_values
    FROM lineitem
    GROUP BY l_partkey
    """,
)
def minmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return channel_minmax(li, ["l_partkey"], "l_extendedprice")


# ---------------------------------------------------------------------------
# A2: count-equality validation (IDT/ObsFile.py:298-299).
# ---------------------------------------------------------------------------
@register(
    "count_validation",
    oracle="""
    SELECT l_orderkey, count(*) AS n_rows
    FROM lineitem
    GROUP BY l_orderkey
    HAVING count(*) = 7
    """,
)
def count_validation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return count_validation(li, ["l_orderkey"], 7)


# ---------------------------------------------------------------------------
# A4: time-increment inference (end−start)/(n−1) (IDT/ObsFile.py:501-505).
# ---------------------------------------------------------------------------
@register(
    "time_increment_inference",
    oracle="""
    SELECT user_id, count(*) AS n_records,
           round((epoch_ms(max(ts)) - epoch_ms(min(ts))) / 1000.0 / (count(*) - 1), 6)
             AS increment_s
    FROM events
    GROUP BY user_id
    HAVING count(*) > 1
    """,
)
def time_increment_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    inc = infer_time_increment(events, "user_id", "ts")
    return inc.select("user_id", "n_records", F.round("increment_s", 6).alias("increment_s"))


# ---------------------------------------------------------------------------
# W2: occurrence numbering of duplicate code bases (IDT/OceanNcVar.py:95-110).
# ---------------------------------------------------------------------------
@register(
    "ranking_window_bodc",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           printf('%s%02d', l_returnflag,
                  row_number() OVER (PARTITION BY l_orderkey, l_returnflag
                                     ORDER BY l_linenumber)) AS code
    FROM lineitem
    """,
)
def ranking_window_bodc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = occurrence_numbering(
        li, ["l_orderkey"], "l_returnflag", "l_linenumber", out_col="code", width=2
    )
    return out.select("l_orderkey", "l_linenumber", "code")


# ---------------------------------------------------------------------------
# W1: regular time-series generation obs[i] = start + i·dt
# (IDT/ObsFile.py:455-456, 507-508) via sequence + posexplode.
# ---------------------------------------------------------------------------
@register(
    "sequence_timeseries",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS start_ts, least(count(*), 10) AS n,
             ((user_id % 5) + 1) * 60 AS dt_s
      FROM events GROUP BY user_id
    ), e AS (
      SELECT user_id, start_ts, dt_s,
             unnest(generate_series(0, n - 1)) AS record_idx
      FROM s
    )
    SELECT user_id, CAST(record_idx AS BIGINT) AS record_idx,
           start_ts + to_seconds(record_idx * dt_s) AS obs_ts
    FROM e
    """,
)
def sequence_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    starts = events.groupBy("user_id").agg(
        F.min("ts").alias("start_ts"),
        F.least(F.count(F.lit(1)), F.lit(10)).alias("n"),
        (((F.col("user_id") % 5) + 1) * 60).alias("dt_s"),
    )
    ts = regular_timeseries(starts, "start_ts", "n", "dt_s")
    return ts.select(
        "user_id", F.col("record_idx").cast("long").alias("record_idx"), "obs_ts"
    )


# ---------------------------------------------------------------------------
# §2.6: deterministic sort + limit (profile order / first-match cap).
# ---------------------------------------------------------------------------
@register(
    "sort_limit_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# §2.6: set operations (compare_file_list as EXCEPT / INTERSECT,
# IDT/utils.py:84-97).
# ---------------------------------------------------------------------------
@register(
    "except_missing_keys",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def except_missing_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    ordered = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.subtract(ordered)


@register(
    "intersect_common_keys",
    oracle="""
    SELECT c_custkey FROM customer
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def intersect_common_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    ordered = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return cust.intersect(ordered)
