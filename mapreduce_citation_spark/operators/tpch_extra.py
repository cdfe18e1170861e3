"""Remaining TPC-H query shapes (Q2/6/8/9/11/12/13/15/18/20/21),
adapted to the fixture star schema.

The fixtures carry no ``partsupp`` table and no commit/receipt dates,
so the partsupp-driven queries (Q2/11/20) and the late-delivery ones
(Q12/21) are re-expressed over ``lineitem`` with the same PLAN SHAPE
as their TPC-H originals — correlated min (Q2), global-share scalar
subquery (Q11), multi-way exists/not-exists (Q21) — which is what
matters for the operator surface; constants are chosen to be selective
on the synthetic data.

Scale notes: every dim join (nation/region/supplier) broadcasts under
``autoBroadcastJoinThreshold``; fact-fact joins shuffle on their keys;
scalar subqueries (Q11 total, Q15 max) use the lazy 1-row broadcast
crossJoin pattern (no driver collect — see q22_dormant_customers);
Q18's big-aggregation semi-join aggregates BEFORE joining, so the
heavy groupBy output, not raw lineitem, is what moves.

Float determinism: money through DECIMAL, division only between
identically-computed doubles (see operators/relational.py docstring).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.readers import load_table
from .relational import DISC, OPRICE, PRICE

QTY = "CAST(l_quantity AS DECIMAL(12,2))"
RETAIL = "CAST(p_retailprice AS DECIMAL(12,2))"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "q6_forecast_revenue",
    oracle=f"""
SELECT CAST(SUM({PRICE} * {DISC}) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND {DISC} BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    bench=True,
    tags=("aggregate", "tpch"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate — the query where filter
    pushdown is everything. shipdate/discount/quantity predicates all
    reach the parquet scan (PushedFilters), no join, no shuffle beyond
    the single-row final agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & F.expr(f"{DISC} BETWEEN 0.05 AND 0.07")
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.expr(f"CAST(SUM({PRICE} * {DISC}) AS DOUBLE)").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q2_min_price_supplier",
    oracle="""
WITH sp AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
           / CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS unit_price
  FROM lineitem GROUP BY 1, 2
)
SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name,
       sp.unit_price AS min_unit_price
FROM sp
JOIN (SELECT pk, MIN(unit_price) AS mn FROM sp GROUP BY pk) m
  ON sp.pk = m.pk AND sp.unit_price = m.mn
JOIN part p ON p.p_partkey = sp.pk AND p.p_size = 15 AND p.p_type = 'PROMO'
JOIN supplier s ON s.s_suppkey = sp.sk
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'ASIA'
""",
    tags=("join", "subquery", "correlated-min", "tpch"),
)
def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (no partsupp in the fixtures): for each PROMO
    size-15 part, the ASIA supplier(s) selling it at the minimum
    observed unit price. The correlated-min subquery de-correlates to
    a per-part MIN WINDOW over the aggregated (part, supplier)
    relation — one lineitem scan, one agg shuffle, one window
    exchange (the aggregate-then-self-join alternative scans lineitem
    twice: Spark's ReuseExchange doesn't unify the two branches);
    min-equality compares identically-computed doubles (exact).
    """
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    sp = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.expr(
            f"CAST(SUM({PRICE}) AS DOUBLE) / CAST(SUM({QTY}) AS DOUBLE)"
        ).alias("unit_price")
    )
    mn = F.min("unit_price").over(Window.partitionBy("pk"))
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "PROMO")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        sp.withColumn("mn", mn)
        .filter(F.col("unit_price") == F.col("mn"))
        .join(p, F.col("pk") == p.p_partkey)
        .join(s, F.col("sk") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "p_partkey", "p_brand", "s_name", "n_name",
            F.col("unit_price").alias("min_unit_price"),
        )
    )


@register(
    "q8_market_share",
    oracle=f"""
WITH rev AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
         n2.n_name AS supp_nation,
         {PRICE} * (1 - {DISC}) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
  JOIN supplier  ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  JOIN part      ON l_partkey = p_partkey AND p_type = 'PROMO'
)
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM rev
GROUP BY o_year
""",
    tags=("join", "aggregate", "tpch"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of ASIA PROMO revenue per year — an
    8-table snowflake join. All dims broadcast; the only shuffles are
    lineitem⋈orders and the year rollup. Share = ratio of two
    decimal-exact sums (conditional sum via CASE, no second pass)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n1 = _t(spark, sf_dir, "nation").alias("n1")
    n2 = _t(spark, sf_dir, "nation").alias("n2")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(r), F.col("n1.n_regionkey") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2.n_nationkey"))
        .join(p, li.l_partkey == p.p_partkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            F.col("n2.n_name").alias("supp_nation"),
            F.expr(f"{PRICE} * (1 - {DISC})").alias("volume"),
        )
    )
    return rev.groupBy("o_year").agg(
        F.expr(
            "CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)"
            " / CAST(SUM(volume) AS DOUBLE)"
        ).alias("mkt_share")
    )


@register(
    "q9_product_profit",
    oracle=f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       CAST(SUM({PRICE} * (1 - {DISC}) - {RETAIL} * {QTY} * CAST(0.10 AS DECIMAL(3,2))) AS DOUBLE) AS profit
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%anvil%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY 1, 2
""",
    tags=("join", "aggregate", "tpch"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (p_retailprice×10% stands in for the absent
    ps_supplycost): profit on anvil parts by supplier nation and
    year. The p_name LIKE filter prunes part before the join; profit
    arithmetic stays in DECIMAL until the final cast."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%anvil%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.expr(
                f"CAST(SUM({PRICE} * (1 - {DISC}) - {RETAIL} * {QTY} * CAST(0.10 AS DECIMAL(3,2))) AS DOUBLE)"
            ).alias("profit")
        )
    )


@register(
    "q11_important_parts",
    oracle=f"""
WITH pv AS (
  SELECT l_partkey, SUM({PRICE} * (1 - {DISC})) AS value
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, CAST(value AS DOUBLE) AS part_value
FROM pv, (SELECT SUM(value) AS total FROM pv) t
WHERE value > CAST(total AS DECIMAL(30,4)) * CAST(0.0007 AS DECIMAL(5,4))
""",
    tags=("aggregate", "scalar-subquery", "tpch"),
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (lineitem value in place of partsupp stock):
    parts whose traded value exceeds 0.07% of the global total. The
    global total is the LAZY 1-row broadcast crossJoin — the per-part
    aggregate computes once and feeds both the scalar and the filter;
    no driver-side collect. Comparison in DECIMAL (exact), output
    cast to double."""
    li = _t(spark, sf_dir, "lineitem")
    # materialize the per-part aggregate once: it feeds BOTH the global
    # total and the filter — left lazy, each branch re-scans lineitem
    pv = li.groupBy("l_partkey").agg(
        F.expr(f"SUM({PRICE} * (1 - {DISC}))").alias("value")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    total = pv.agg(F.sum("value").alias("total"))
    return (
        pv.crossJoin(F.broadcast(total))
        # total (DECIMAL(37,4)) * DECIMAL(5,4) would need precision 43
        # > 38, so Spark's allowPrecisionLoss would round the threshold
        # HALF_UP to scale 6 while DuckDB keeps the exact scale-8 value
        # — a value within ~5e-7 of the boundary would classify
        # differently. Bounding total to DECIMAL(30,4) first keeps the
        # product at DECIMAL(36,8): exact on BOTH engines (the oracle
        # mirrors the cast).
        .filter(
            F.expr(
                "value > CAST(total AS DECIMAL(30,4)) * CAST(0.0007 AS DECIMAL(5,4))"
            )
        )
        .select("l_partkey", F.col("value").cast("double").alias("part_value"))
    )


@register(
    "q12_late_shipping",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
""",
    tags=("join", "aggregate", "tpch"),
)
def q12_late_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (ship-lag > 60 days stands in for the absent
    commit/receipt dates): late 1997 shipments bucketed by return
    flag, counting urgent-vs-rest order priorities in one conditional
    pass."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
            & (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("high_line_count"),
            F.expr(
                "CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("low_line_count"),
        )
    )


@register(
    "q13_order_count_distribution",
    oracle="""
WITH c_orders AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders
GROUP BY c_count
""",
    tags=("join", "outer-join", "aggregate", "tpch"),
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: the two-level aggregation — orders per customer
    (LEFT join keeps zero-order customers; COUNT(col) skips their
    nulls), then the histogram of those counts. Second groupBy keys on
    a tiny domain, so the second shuffle is negligible."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    oracle=f"""
WITH rev AS (
  SELECT l_suppkey AS supplier_no, SUM({PRICE} * (1 - {DISC})) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no,
     (SELECT MAX(total_revenue) AS mx FROM rev) m
WHERE total_revenue = m.mx
""",
    tags=("join", "scalar-subquery", "tpch"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) achieving the maximum quarterly revenue.
    The max is the lazy 1-row broadcast scalar over the SAME aggregate
    that feeds the equality filter (computed once); revenue equality
    compares DECIMAL values — exact, so ties surface identically in
    both engines."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.expr(f"SUM({PRICE} * (1 - {DISC}))").alias("total_revenue"))
        # materialized once (one row per supplier): feeds both the max
        # scalar and the equality filter without re-scanning lineitem
        .localCheckpoint()
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


@register(
    "q18_large_volume_customers",
    oracle=f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST({OPRICE} AS DOUBLE) AS o_totalprice,
       SUM(l_quantity) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
""",
    tags=("join", "semi-join", "aggregate", "topk", "tpch"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers with orders above 300 total quantity. The
    HAVING subquery becomes aggregate→filter, and the aggregate
    ALREADY CARRIES the per-order quantity sum — so the qualifying
    (orderkey, total_qty) rows join straight to orders+customer with
    no second lineitem scan (the textbook semi-join variant reads
    lineitem twice). One big groupBy, then joins against a tiny set.
    Top-100 is TakeOrderedAndProject (no global sort)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.expr(f"CAST({OPRICE} AS DOUBLE)").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@register(
    "q20_part_promotion_suppliers",
    oracle="""
SELECT s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%anvil%'
  GROUP BY l_suppkey
  HAVING SUM(l_quantity) > 2000
)
ORDER BY s_name
""",
    tags=("join", "semi-join", "tpch"),
)
def q20_part_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (shipped volume stands in for partsupp
    availability): suppliers who moved > 2000 units of anvil parts.
    Aggregate-then-semi-join: the supplier table is filtered by the
    qualifying-key set, never joined to raw lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%anvil%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    qual = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 2000)
        .select("l_suppkey")
    )
    return (
        s.join(qual, s.s_suppkey == qual.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
)
SELECT s_name, COUNT(*) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (
  SELECT 1 FROM lineitem l2
  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
)
AND NOT EXISTS (
  SELECT 1 FROM late l3
  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
""",
    bench=True,
    tags=("join", "semi-join", "anti-join", "tpch"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (ship-lag > 90 days as the lateness signal):
    suppliers who were the SOLE late supplier on a multi-supplier
    order. EXISTS → left-semi on (orderkey, other-supplier present);
    NOT EXISTS → left-semi on orders with exactly one distinct late
    supplier. Both probe sides are pre-aggregated orderkey sets, so
    the semi joins stream lineitem once each — the de-correlated plan
    TPC-H's official variants hand-write."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
        .select("l_orderkey", "l_suppkey")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    l1 = late.alias("l1")
    # EXISTS another supplier on the order — checked ONLY for orders
    # that have a late line at all: the semi-join against the (small)
    # late-order set runs before the supplier distinct-count, so the
    # expensive distinct never touches the full lineitem
    # no broadcast hint: the late-order set is data-dependent (grows
    # with the data) — AQE picks broadcast from measured size when it
    # fits, shuffle semi-join when it doesn't
    late_orders = late.select("l_orderkey").distinct()
    multi = (
        li.join(late_orders, "l_orderkey", "left_semi")
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
        .filter(F.col("n_supp") > 1)
        .select("l_orderkey")
    )
    with_other = l1.join(
        multi, F.col("l1.l_orderkey") == multi.l_orderkey, "left_semi"
    )
    # NOT EXISTS another LATE supplier on the order
    # ⇔ the order has exactly ONE distinct late suppkey, so one
    # orderkey-keyed countDistinct (partial-aggregated, key-only output
    # → AQE-broadcast probe side) stands in for a late×late semi join
    # plus an (orderkey, suppkey) anti shuffle: one SMJ fewer, timing
    # flat (AB_R15_SF1.json)
    nls = (
        late.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("_nls"))
        .filter(F.col("_nls") == 1)
        .select("l_orderkey")
    )
    sole_late = with_other.join(nls, "l_orderkey", "left_semi")
    return (
        sole_late.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )
