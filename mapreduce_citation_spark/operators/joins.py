"""Join operator surface: every join shape the engine supports.

Strategy notes for 100 TB (tests pin these via plan assertions):
- Dimension tables (region/nation/customer/supplier/part at TPC-H
  ratios) broadcast — no shuffle of the fact side.
- Fact-fact joins (lineitem⋈orders) shuffle on the join key; AQE
  handles skew splitting at runtime.
- As-of joins have no native Spark operator: implemented here as a
  union-of-tagged-streams + window scan, which shuffles each side
  once on the key and never builds the (left × right-candidates)
  blow-up an inequality join would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.readers import load_table
from .relational import DISC, PRICE


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "join_broadcast_dim",
    oracle=f"""
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    bench=True,
    tags=("join", "broadcast"),
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast(dim): zero shuffle on the orders side for the
    join itself; only the 5-group aggregate exchanges."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)").alias(
                "revenue"
            ),
        )
    )


@register(
    "join_fact_fact",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM({PRICE} * (1 - {DISC})) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
    bench=True,
    tags=("join", "shuffle"),
)
def join_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large⋈large equi-join on the natural key — shuffles both sides
    on l_orderkey/o_orderkey exactly once (sort-merge or shuffled-hash
    per AQE stats)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.expr(f"CAST(SUM({PRICE} * (1 - {DISC})) AS DOUBLE)").alias("revenue"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
SELECT n_name,
       COUNT(c_custkey) AS n_customers
FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
GROUP BY n_name
""",
    tags=("join", "outer"),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER: nations keep a row even with zero customers
    (COUNT(col) skips the null-extended rows)."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    return (
        n.join(c, n.n_nationkey == c.c_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@register(
    "join_full_outer",
    oracle="""
WITH cust AS (
  SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1
), supp AS (
  SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1
)
SELECT COALESCE(cust.nk, supp.nk) AS nationkey,
       COALESCE(n_cust, 0) AS n_cust,
       COALESCE(n_supp, 0) AS n_supp
FROM cust FULL OUTER JOIN supp ON cust.nk = supp.nk
""",
    tags=("join", "outer"),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER over pre-aggregated sides (aggregate-before-join:
    shuffles the small aggregates, not the base tables)."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    cust = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    supp = s.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return cust.join(supp, cust.nk == supp.nk, "full").select(
        F.coalesce(cust.nk, supp.nk).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@register(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
""",
    tags=("join", "semi"),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: existence check, no row multiplication."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
SELECT c_custkey, c_mktsegment
FROM customer
WHERE c_custkey NOT IN (
  SELECT o_custkey FROM orders
  WHERE o_orderstatus = 'P' AND o_totalprice > 300000
)
""",
    tags=("join", "anti"),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI: "papers never cited" shape — customers with no
    big pending order (reference has no join surface, SURVEY.md §2.3;
    the predicate is chosen to keep the result nonempty at sf0.01)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "P") & (F.col("o_totalprice") > 300000)
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_cross",
    oracle="""
SELECT r_name, x.o_orderstatus AS status
FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) x
""",
    tags=("join", "cross"),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian of two tiny inputs (5 × 3); the engine guards real
    cross joins behind explicit .crossJoin."""
    r = _t(spark, sf_dir, "region").select("r_name")
    st = _t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status")
    ).distinct()
    return r.crossJoin(st)


# ---------------------------------------------------------------------------
# Skew-handling: salted join (manual complement to AQE skew splitting)
# ---------------------------------------------------------------------------

def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Equi-join with key salting: the (large, possibly skewed) left
    side gets a deterministic salt per row; the (smaller) right side
    is replicated once per salt; the join runs on (key, salt), so a
    hot key's rows spread over ``n_salts`` reducers instead of one.

    Use when one build-side key dominates (AQE skew-join handles
    sort-merge skew automatically, but salting also covers aggregations
    and works when the skew is known ahead of plan time). Join result
    is identical to the plain join — pinned by the registered query's
    plain-join oracle.

    The salt is a CONTENT hash of the whole left row, not
    ``monotonically_increasing_id``: ids are assigned per task
    attempt, so under task retry/recomputation a row could re-salt and
    land on a different reducer (still correct — salt only routes —
    but partition placement becomes nondeterministic and AQE-stats
    dependent). A row hash is stable across retries; a hot key's rows
    still spread because their non-key columns differ (exact duplicate
    rows co-locate, which is harmless).
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    l_salted = left.withColumn("_salt", salt)
    salts = left.sparkSession.range(n_salts).select(
        F.col("id").cast("int").alias("_salt")
    )
    r_replicated = right.crossJoin(F.broadcast(salts))
    return l_salted.join(
        r_replicated,
        (F.col(left_key) == F.col(right_key))
        & (l_salted["_salt"] == r_replicated["_salt"]),
    ).drop("_salt")


@register(
    "join_salted_skew",
    oracle="""
SELECT n_name, COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
    tags=("join", "skew", "salting"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted orders⋈customer (16 salts) then nation rollup — the
    oracle is the PLAIN join, proving the salting rewrite is a pure
    physical optimization with identical semantics."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = salted_join(o, c, "o_custkey", "c_custkey", n_salts=16)
    return (
        joined.join(F.broadcast(n), joined.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Skew torture pair: the same hot-keyed join, unmitigated vs salted
# ---------------------------------------------------------------------------

def _hot_keyed_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately skewed fact side: every 5th lineitem row (~20% of
    the table) is remapped onto ONE existing order key (the min), so
    a shuffle join on the key sends a fifth of the fact table to a
    single reducer. The hot key is a lazy 1-row broadcast scalar, not
    a driver collect."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    hot = o.agg(F.min("o_orderkey").alias("_hk"))
    return li.crossJoin(F.broadcast(hot)).select(
        F.when(F.col("l_orderkey") % 5 == 0, F.col("_hk"))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    )


_HOT_KEY_ORACLE = f"""
WITH hot AS (SELECT MIN(o_orderkey) AS hk FROM orders),
sk AS (
  SELECT CASE WHEN l_orderkey % 5 = 0 THEN (SELECT hk FROM hot)
              ELSE l_orderkey END AS k,
         l_quantity, l_extendedprice, l_discount
  FROM lineitem
)
SELECT o_orderpriority, COUNT(*) AS n_rows,
       SUM(l_quantity) AS sum_qty,
       CAST(SUM({PRICE} * (1 - {DISC})) AS DOUBLE) AS revenue
FROM sk JOIN orders ON k = o_orderkey
GROUP BY o_orderpriority
"""


def _hot_key_agg(joined: DataFrame) -> DataFrame:
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("SUM(l_quantity)").alias("sum_qty"),
        F.expr(f"CAST(SUM({PRICE} * (1 - {DISC})) AS DOUBLE)").alias("revenue"),
    )


@register(
    "join_hot_key_aqe",
    oracle=_HOT_KEY_ORACLE,
    bench=True,
    tags=("join", "skew", "aqe", "torture"),
)
def join_hot_key_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-keyed join, mitigation left to the ENGINE: a plain
    sort-merge join (merge hint pins the at-scale plan — on a 100 TB
    cluster the orders side never broadcasts) where one reducer
    receives ~20% of the fact table.

    At bench scale the hot partition is CPU-heavy but byte-light
    (megabytes — far under AQE's 256MB
    ``skewJoin.skewedPartitionThresholdInBytes``), so AQE does NOT
    split it and the join runs at the speed of its slowest reducer:
    the same bytes-vs-rows blind spot as the coalescing floor
    (SCALE.md). On a real cluster the hot partition's bytes cross the
    threshold and AQE splits it automatically; ``join_hot_key_salted``
    is the structural fix that works at EVERY scale. The bench pair
    measures the gap each round."""
    sk = _hot_keyed_lineitem(spark, sf_dir)
    o = _t(spark, sf_dir, "orders")
    joined = sk.hint("merge").join(o, sk.k == o.o_orderkey)
    return _hot_key_agg(joined)


@register(
    "join_hot_key_salted",
    oracle=_HOT_KEY_ORACLE,
    bench=True,
    tags=("join", "skew", "salting", "torture"),
)
def join_hot_key_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same hot-keyed join with the salting rewrite: the hot
    key's rows spread over ``n_salts`` reducers (salt = content hash
    of the fact row), the orders side is replicated once per salt,
    and the tail task disappears. Identical results by construction —
    both entries share one plain-join oracle.

    Salt count is a spread-vs-replication trade: more salts shrink
    the tail but multiply the replicated dim. Measured at sf0.1
    (local[32], r5): 4/8/16/32 salts → 1.19/1.04/1.25/1.74 s against
    1.13 s unmitigated — 8 salts matches the unmitigated plan while
    structurally bounding the tail, so 8 is the registered operating
    point; at cluster scale (hot key holding GBs, not MBs) the tail
    dominates and the spread wins outright (SCALE.md 'Skew')."""
    sk = _hot_keyed_lineitem(spark, sf_dir)
    o = _t(spark, sf_dir, "orders")
    joined = salted_join(sk.hint("merge"), o, "k", "o_orderkey", n_salts=8)
    return _hot_key_agg(joined)


# ---------------------------------------------------------------------------
# As-of join (custom operator — Spark has no native one)
# ---------------------------------------------------------------------------

def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """Backward as-of join: for each left row, the right row with the
    greatest ``right_ts`` ≤ ``left_ts`` within the same ``on`` key.

    Implemented as union-of-tagged-streams + window ``last_value``
    (IGNORE NULLS) over rows sorted by (key, time): one shuffle per
    side on the key, O(n log n) within partitions, and — unlike the
    naive inequality-join + row_number — never materializes the
    left×right candidate blow-up, so it survives 100× scale-up.
    Right rows must be unique per (key, right_ts); pre-dedupe first.
    """
    lcols = left.columns
    tagged_r = right.select(
        F.col(right_on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),  # right sorts before left at equal ts (≤ semantics)
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}") for c in lcols],
    )
    tagged_l = left.select(
        F.col(left_on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_cols],
        *[F.col(c).alias(f"_l_{c}") for c in lcols],
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = tagged_r.unionByName(tagged_l).select(
        "*",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"_asof_{c}")
            for c in right_cols
        ],
    )
    return merged.filter(F.col("_side") == 1).select(
        *[F.col(f"_l_{c}").alias(c) for c in lcols],
        *[F.col(f"_asof_{c}").alias(c) for c in right_cols],
    )


@register(
    "asof_join_events_orders",
    bench=True,
    oracle="""
WITH ev AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), latest AS (
  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, l.o_orderkey, l.o_orderdate
FROM ev e ASOF LEFT JOIN latest l
  ON e.user_id = l.o_custkey AND l.o_orderdate <= e.ts
""",
    tags=("join", "asof", "custom-operator"),
)
def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of: each purchase event matched to the user's most recent
    order at event time. Right side pre-deduped to one row per
    (custkey, orderdate) with max orderkey so the match is
    deterministic. Oracle uses DuckDB's native ASOF JOIN."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
    )
    latest = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    return asof_join(
        ev,
        latest,
        left_on="user_id",
        right_on="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate"],
    ).select("event_id", "user_id", "o_orderkey", "o_orderdate")


@register(
    "range_join_buckets",
    oracle="""
WITH buckets(bucket, lo, hi) AS (
  VALUES ('small', 1, 10), ('medium', 11, 30), ('large', 31, 50)
)
SELECT bucket, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
FROM lineitem JOIN buckets ON l_quantity BETWEEN lo AND hi
GROUP BY bucket
""",
    tags=("join", "range"),
)
def range_join_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join against a tiny bounds table: broadcast + BETWEEN
    predicate (BroadcastNestedLoopJoin over 3 rows — the right plan;
    for large range tables the bucketize-then-equi-join rewrite in
    this module's asof_join applies instead)."""
    li = _t(spark, sf_dir, "lineitem")
    buckets = li.sparkSession.createDataFrame(
        [("small", 1, 10), ("medium", 11, 30), ("large", 31, 50)],
        ["bucket", "lo", "hi"],
    )
    return (
        li.join(
            F.broadcast(buckets),
            (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") <= F.col("hi")),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.expr("SUM(l_quantity)").alias("sum_qty"))
    )


# ---------------------------------------------------------------------------
# Bucketed warehouse: the exchange-free repeated fact-fact join
# ---------------------------------------------------------------------------

_BUCKET_DB = "benchdb"
_N_BUCKETS = 16


def _warehouse_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    suffix: str,
    spec_tag: str,
    write,
) -> DataFrame:
    """Shared warehouse-table builder behind ``bucketed_table`` and
    ``partitioned_table``: returns fixture table ``name`` laid out in
    the warehouse per ``write`` (a callable applying the layout to a
    DataFrame and saving to the given table name), (re)building only
    when missing or stale.

    Cache identity = (source realpath, layout spec): the table token
    hashes the full realpath (two fixture dirs sharing a basename
    never collide) AND ``spec_tag`` (two different layouts of the
    same source — e.g. month- vs week-partitioned — never share a
    table). Staleness = exact float mtime + total byte size in
    TBLPROPERTIES, so a fixture regenerated within the same second is
    still detected.

    The database lives in a temp dir made when this SparkContext's
    in-memory catalog first creates it and removed at exit: under the
    shared ``spark-warehouse`` dir, two processes started from one
    working directory would each overwrite the tables the other is
    reading."""
    import atexit
    import hashlib
    import os
    import re
    import shutil
    import tempfile

    def _tree_size(p: str) -> int:
        if os.path.isfile(p):
            return os.path.getsize(p)
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(p) for f in fs
        )

    if not spark.catalog.databaseExists(_BUCKET_DB):
        loc = tempfile.mkdtemp(prefix="spark-graft-warehouse-")
        atexit.register(shutil.rmtree, loc, True)
        spark.sql(f"CREATE DATABASE {_BUCKET_DB} LOCATION '{loc}'")
    real = os.path.realpath(sf_dir.rstrip("/"))
    tag = hashlib.md5(f"{real}|{spec_tag}".encode()).hexdigest()[:8]
    token = re.sub(r"[^0-9A-Za-z]", "_", os.path.basename(real)) + "_" + tag
    tbl = f"{_BUCKET_DB}.{name}_{suffix}_{token}"
    src = os.path.join(sf_dir, f"{name}.parquet")
    src_mtime = f"{os.path.getmtime(src)!r}:{_tree_size(src)}"
    if spark.catalog.tableExists(tbl):
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {tbl}").collect()
        }
        if props.get("src_mtime") == src_mtime:
            return spark.table(tbl)
    write(spark.read.parquet(src), tbl)
    spark.sql(f"ALTER TABLE {tbl} SET TBLPROPERTIES ('src_mtime'='{src_mtime}')")
    return spark.table(tbl)


def bucketed_table(
    spark: SparkSession, sf_dir: str, name: str, key: str,
    n_buckets: int = _N_BUCKETS,
) -> DataFrame:
    """Fixture table ``name`` as a warehouse table bucketed + sorted
    on ``key``. This is the ETL half of the co-located join strategy:
    pay one shuffle at ingest, then every subsequent join/aggregation
    on the bucket key runs with ZERO exchange — the right trade
    whenever a 100 TB fact table is joined on the same key by many
    queries."""

    def write(df: DataFrame, tbl: str) -> None:
        (
            df.write.mode("overwrite")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .saveAsTable(tbl)
        )

    return _warehouse_table(
        spark, sf_dir, name, "bk", f"bucket:{key}:{n_buckets}", write
    )


@register(
    "join_bucketed_fact_fact",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM({PRICE} * (1 - {DISC})) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
    bench=True,
    tags=("join", "bucketed", "no-shuffle"),
)
def join_bucketed_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same fact-fact join as ``join_fact_fact``, but over the
    bucketed warehouse: both sides bucketed+sorted on the order key,
    so the sort-merge join consumes bucket files directly — NO
    exchange on either side (pinned by plan assert in tests; cheap
    per-task sorts remain because Spark elides them only at
    one-file-per-bucket). The only shuffle in the whole plan is the
    final 5-group aggregation, which is inherent to the answer.

    Bench pairing with ``join_fact_fact`` quantifies what the ingest
    shuffle buys: at 100 TB the unbucketed plan re-shuffles both
    facts on EVERY such query; the bucketed plan pays it once at
    write time. (Bucket build happens in the warmup pass — timed runs
    measure the steady-state query only.) The oracle is identical to
    ``join_fact_fact``: bucketing is physical layout, not semantics."""
    li = bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    o = bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    return (
        li.hint("merge")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.expr(f"CAST(SUM({PRICE} * (1 - {DISC})) AS DOUBLE)").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Partitioned warehouse + dynamic partition pruning
# ---------------------------------------------------------------------------

def partitioned_table(
    spark: SparkSession, sf_dir: str, name: str, part_col: str, part_expr: str
) -> DataFrame:
    """Fixture table ``name`` as a warehouse table hive-partitioned on
    ``part_col`` (computed by ``part_expr``). This is the layout half
    of the partition-pruning strategy: a 100 TB fact laid out by
    month means a month-bounded query reads only the touched
    directories — static pruning when the bound is a literal, DYNAMIC
    partition pruning (a runtime subquery filter pushed into the
    scan) when the bound arrives through a dim-table join."""

    def write(df: DataFrame, tbl: str) -> None:
        (
            df.withColumn(part_col, F.expr(part_expr))
            .write.mode("overwrite")
            .partitionBy(part_col)
            .saveAsTable(tbl)
        )

    return _warehouse_table(
        spark, sf_dir, name, "pt", f"part:{part_col}:{part_expr}", write
    )


def _month_dim(spark: SparkSession) -> DataFrame:
    """84-row month dimension (1995-01..2001-12, the fixture's
    date range; the fact's max ship month is 2001-11, so 83 of the 84
    dim months actually occur) with year/quarter attributes — a constant-size dim built
    driver-side, the join side that makes partition pruning DYNAMIC
    (the month set reaching the fact scan is only known after the
    dim filter runs)."""
    rows = [
        (f"{y}-{m:02d}", y, (m - 1) // 3 + 1)
        for y in range(1995, 2002)
        for m in range(1, 13)
    ]
    return spark.createDataFrame(rows, ["ship_month", "d_year", "d_quarter"])


_DPP_SQL = f"""
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       COUNT(*) AS n_lines,
       CAST(SUM({PRICE} * (1 - {DISC})) AS DOUBLE) AS revenue
FROM lineitem
WHERE EXTRACT(year FROM l_shipdate) = 1997
  AND EXTRACT(quarter FROM l_shipdate) <= 2
GROUP BY 1
"""


@register(
    "join_partition_pruned",
    oracle=_DPP_SQL,
    bench=True,
    tags=("join", "partition-pruning", "dpp", "warehouse"),
)
def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: lineitem laid out month-partitioned
    in the warehouse, joined to a month dim filtered to 1997 H1 — the
    runtime DPP subquery prunes the fact scan to the 6 matching of the fixture's 83
    ship-month partition directories before any row is read (plan-pinned:
    ``dynamicpruning`` in the scan's PartitionFilters). The benched
    flat twin ``join_partition_flat`` runs the same logical query
    against the unpartitioned parquet, so the pruning payoff is
    measured every round."""
    li = partitioned_table(
        spark, sf_dir, "lineitem", "ship_month",
        "date_format(l_shipdate, 'yyyy-MM')",
    )
    dim = _month_dim(spark).filter(
        (F.col("d_year") == 1997) & (F.col("d_quarter") <= 2)
    )
    return (
        li.join(F.broadcast(dim), "ship_month")
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.expr(f"CAST(SUM({PRICE} * (1 - {DISC})) AS DOUBLE)").alias("revenue"),
        )
    )


@register(
    "join_partition_flat",
    oracle=_DPP_SQL,
    bench=True,
    tags=("join", "partition-pruning", "flat-twin"),
)
def join_partition_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat twin of ``join_partition_pruned``: identical logical
    query against the raw unpartitioned parquet — the scan reads
    every row group and filters after decode. The bench delta between
    the pair is the partition-layout payoff (at 100 TB: reading 6/84
    of the fact vs all of it)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.date_format("l_shipdate", "yyyy-MM")
    )
    dim = _month_dim(spark).filter(
        (F.col("d_year") == 1997) & (F.col("d_quarter") <= 2)
    )
    return (
        li.join(F.broadcast(dim), "ship_month")
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.expr(f"CAST(SUM({PRICE} * (1 - {DISC})) AS DOUBLE)").alias("revenue"),
        )
    )


@register(
    "events_attribution_last_touch",
    oracle="""
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id, ts, arg_max(event_type, event_id) AS event_type
  FROM events WHERE event_type <> 'purchase'
  GROUP BY user_id, ts
),
attributed AS (
  SELECT p.event_id, t.event_type AS channel,
         (t.ts IS NOT NULL
          AND p.ts - t.ts <= INTERVAL 30 MINUTE) AS within_window
  FROM purchases p ASOF LEFT JOIN touches t
    ON p.user_id = t.user_id AND t.ts <= p.ts
)
SELECT CASE WHEN within_window THEN channel ELSE 'unattributed' END
         AS channel,
       COUNT(*) AS n_purchases
FROM attributed
GROUP BY 1
""",
    tags=("join", "asof", "attribution", "events"),
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent non-purchase event within a 30-minute window (else
    'unattributed') — built on this module's as-of join (union +
    window, no candidate blow-up), showing the custom operator
    composes: the attribution threshold is a plain filter on the
    matched timestamp, and the rollup is one small-key aggregation.

    The as-of right side dedupes to one row per (user, ts) with the
    max event_id so ties are deterministic on both engines; DuckDB's
    native ASOF JOIN picks the same greatest-ts row."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    touches = (
        ev.filter(F.col("event_type") != "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("event_type", "event_id").alias("t_type"))
        .withColumn("t_ts", F.col("ts"))
    )
    matched = asof_join(
        purchases,
        touches,
        left_on="user_id",
        right_on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["t_type", "t_ts"],
    )
    return (
        matched.select(
            F.when(
                F.col("t_ts").isNotNull()
                & (F.col("t_ts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES")),
                F.col("t_type"),
            )
            .otherwise(F.lit("unattributed"))
            .alias("channel")
        )
        .groupBy("channel")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )


# ---------------------------------------------------------------------------
# Bloom-filter pre-filtered shuffle join (runtime row-level pruning)
# ---------------------------------------------------------------------------

def bloom_bitmap(keys: DataFrame, key_col: str, m_bits: int) -> DataFrame:
    """Sparse ``(word, bits)`` bitmap of a 2-hash bloom filter over
    ``keys[key_col]``: positions xxhash64(key, seed)·mod·m for seeds
    1 and 2, packed 64 bits per word. AT MOST ``m_bits/64`` rows by
    construction — a fixed-size summary however many keys go in
    (that's the bloom trade: more keys → higher false-positive rate,
    never more bytes)."""
    pos = keys.select(
        F.explode(
            F.array(
                F.pmod(F.xxhash64(F.col(key_col), F.lit(1)), F.lit(m_bits)),
                F.pmod(F.xxhash64(F.col(key_col), F.lit(2)), F.lit(m_bits)),
            )
        ).alias("p")
    )
    return (
        pos.groupBy(F.shiftright("p", 6).alias("word"))
        .agg(F.expr("bit_or(shiftleft(1L, int(p % 64)))").alias("bits"))
    )


def bloom_bitmap_map(keys: DataFrame, key_col: str, m_bits: int) -> DataFrame:
    """The sparse bitmap folded into ONE row holding a word→bits map
    (≤ ``m_bits/64`` entries): the whole filter broadcasts as a
    single scalar-fold relation, so the probe is one cross-join plus
    codegen'd map lookups — no per-position join at all."""
    return bloom_bitmap(keys, key_col, m_bits).agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("bm")
    )


def bloom_prefilter(fact: DataFrame, fact_key: str, bm: DataFrame,
                    m_bits: int) -> DataFrame:
    """Row-level runtime pruning: drop fact rows whose key CANNOT be
    on the build side (both bloom bits must be set; a missing word is
    a definite miss). No false negatives — the surviving superset
    still flows into the real join, which removes false positives —
    so the composed result is IDENTICAL to the plain join. The probe
    cross-joins the broadcast 1-row bitmap map (``bloom_bitmap_map``)
    and tests both positions with map-lookup + bit arithmetic inside
    codegen: the fact side is pruned BEFORE the shuffle, which at
    100 TB is the whole point (exchange bytes drop by the filter's
    selectivity, at the cost of a ~16 KB broadcast). This is the same
    strategy Spark's runtime ``InjectRuntimeFilter`` applies when the
    application-side scan crosses its 10 GB threshold; built from
    first principles here so the operator (and its payoff) is
    testable at ANY scale."""
    f = fact.withColumn(
        "_p1", F.pmod(F.xxhash64(F.col(fact_key), F.lit(1)), F.lit(m_bits))
    ).withColumn(
        "_p2", F.pmod(F.xxhash64(F.col(fact_key), F.lit(2)), F.lit(m_bits))
    )
    hit = (
        "(coalesce(element_at(bm, shiftright({p}, 6)), 0L)"
        " & shiftleft(1L, int({p} % 64))) != 0"
    )
    return (
        f.crossJoin(F.broadcast(bm))
        .filter(F.expr(hit.format(p="_p1")) & F.expr(hit.format(p="_p2")))
        .drop("_p1", "_p2", "bm")
    )


_BLOOM_SQL = f"""
SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
       COUNT(*) AS n_lines,
       CAST(SUM({PRICE} * (1 - {DISC})) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_orderdate >= DATE '1997-01-01'
GROUP BY 1
"""


def _urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
    )


def _bloom_rollup(joined: DataFrame) -> DataFrame:
    return joined.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.expr(f"CAST(SUM({PRICE} * (1 - {DISC})) AS DOUBLE)").alias("revenue"),
    )


@register(
    "join_bloom_prefilter",
    oracle=_BLOOM_SQL,
    bench=True,
    tags=("join", "bloom", "runtime-filter", "prefilter"),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective-dim fact join WITH the bloom pre-filter: the ~6% of
    orders surviving the (priority, date) predicate summarize into a
    fixed ≤2048-row bitmap; the lineitem side probes it BEFORE the
    shuffle (merge hint pins the at-scale shuffle-join shape — on a
    real cluster the filtered orders side of a 100 TB join does not
    broadcast), so ~94% of the fact rows never enter the exchange.
    The oracle is the PLAIN join — bloom pruning must be invisible in
    the result (no false negatives; the join removes false
    positives). ``join_bloom_plain`` is the benched flat twin."""
    o = _urgent_orders(spark, sf_dir)
    bm = bloom_bitmap_map(o, "o_orderkey", 1 << 17)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    pruned = bloom_prefilter(li, "l_orderkey", bm, 1 << 17)
    joined = pruned.hint("merge").join(
        o.select("o_orderkey", "o_orderdate"),
        pruned.l_orderkey == F.col("o_orderkey"),
    )
    return _bloom_rollup(joined)


@register(
    "join_bloom_plain",
    oracle=_BLOOM_SQL,
    bench=True,
    tags=("join", "bloom", "flat-twin"),
)
def join_bloom_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat twin of ``join_bloom_prefilter``: the identical logical
    join with no pre-filter — every lineitem row enters the exchange
    and non-matches die only inside the join. The bench delta between
    the pair is the runtime-filter payoff at the fixture's
    selectivity."""
    o = _urgent_orders(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    joined = li.hint("merge").join(
        o.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    return _bloom_rollup(joined)


# --- multi-dimensional data layout: Z-order clustering --------------------

#: 4-bit per-dimension quantile codes → 8-bit Morton code → 16 range
#: buckets ("files").
_ZO_CODES = 16
_ZO_BUCKETS = 16


def _morton_expr(u: str, v: str, bits: int, div: str) -> str:
    """Bit-interleave expression from pure integer div/mod arithmetic
    (no engine bit operators): z = Σ_b bit_b(u)·2^(2b+1) +
    bit_b(v)·2^(2b). ``div`` is the engine's truncating-division
    token (Spark ``div``, DuckDB ``//``) — operands are non-negative
    so truncation vs floor is moot; everything else is shared SQL."""
    terms = []
    for b in range(bits):
        terms.append(f"(({u} {div} {1 << b}) % 2) * {1 << (2 * b + 1)}")
        terms.append(f"(({v} {div} {1 << b}) % 2) * {1 << (2 * b)}")
    return "(" + " + ".join(terms) + ")"


def _zorder_oracle() -> str:
    z = _morton_expr("cu", "cv", 4, "//")
    return f"""
WITH c AS (
  SELECT NTILE({_ZO_CODES}) OVER (ORDER BY l_partkey, l_orderkey, l_linenumber) - 1 AS cu,
         NTILE({_ZO_CODES}) OVER (ORDER BY l_suppkey, l_orderkey, l_linenumber) - 1 AS cv,
         l_orderkey, l_linenumber
  FROM lineitem
),
z AS (SELECT cu, cv, {z} AS zv, l_orderkey, l_linenumber FROM c),
zb AS (
  SELECT cu, cv,
         NTILE({_ZO_BUCKETS}) OVER (ORDER BY zv, l_orderkey, l_linenumber) AS bucket
  FROM z
),
lb AS (
  SELECT cu, cv,
         NTILE({_ZO_BUCKETS}) OVER (ORDER BY cu, cv, l_orderkey, l_linenumber) AS bucket
  FROM z
)
SELECT 'zorder' AS layout, bucket, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(cu) AS min_u, MAX(cu) AS max_u,
       MIN(cv) AS min_v, MAX(cv) AS max_v
FROM zb GROUP BY bucket
UNION ALL
SELECT 'linear', bucket, CAST(COUNT(*) AS BIGINT),
       MIN(cu), MAX(cu), MIN(cv), MAX(cv)
FROM lb GROUP BY bucket
"""


@register(
    "layout_zorder_stats",
    oracle=_zorder_oracle(),
    tags=("layout", "zorder", "data-skipping", "window"),
)
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER data-layout clustering (the Delta/Iceberg OPTIMIZE
    ZORDER primitive, built from first principles) with its
    data-skipping evidence as the output: per-dimension quantile
    codes (NTILE range ids — exactly how production z-ordering maps
    unbounded columns into interleavable fixed-width codes), a Morton
    bit-interleave from pure div/mod arithmetic, and equal-row range
    buckets standing in for files. The output is each bucket's
    (min, max) envelope per dimension under BOTH layouts — the
    min/max statistics a file-skipping reader consults — so the
    operator's value is measurable from its own result: z-ordered
    buckets bound BOTH dimensions (a 2-D box predicate touches ~1
    bucket), a linearly-sorted layout bounds only the leading one
    (the same box touches ~buckets/codes·span, and a trailing-dim
    predicate touches ALL buckets). The pytest computes both skip
    rates from the emitted stats.

    Scale note (r7): the four global NTILEs are computed WITHOUT any
    unpartitioned window — each is a prefix-offset global rank
    (``prefix.with_global_order``: sampled ``repartitionByRange`` +
    arithmetic local ranks + broadcast exclusive-prefix offsets, the
    same strategy production z-ordering uses) fed through the closed-
    form ANSI-NTILE bucket formula (``prefix.ntile_from_rank``). The
    r6 measurement of the old single-task-sort form — 7.6× time at a
    10× input step, the repo's worst curve — is the reason; semantics
    and oracle are unchanged."""
    from .prefix import ntile_from_rank, with_global_order

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_linenumber"
    )
    d = with_global_order(
        li, ["l_partkey", "l_orderkey", "l_linenumber"], rank="ru", total="n"
    )
    d = with_global_order(
        d, ["l_suppkey", "l_orderkey", "l_linenumber"], rank="rv"
    )
    c = d.select(
        (ntile_from_rank("ru", "n", _ZO_CODES) - 1).alias("cu"),
        (ntile_from_rank("rv", "n", _ZO_CODES) - 1).alias("cv"),
        "l_orderkey",
        "l_linenumber",
        "n",
    )
    z = c.select(
        "cu", "cv", F.expr(_morton_expr("cu", "cv", 4, "div")).alias("zv"),
        "l_orderkey", "l_linenumber", "n",
    )
    zb = with_global_order(
        z, ["zv", "l_orderkey", "l_linenumber"], rank="rz"
    ).select("cu", "cv", ntile_from_rank("rz", "n", _ZO_BUCKETS).alias("bucket"))
    lb = with_global_order(
        z, ["cu", "cv", "l_orderkey", "l_linenumber"], rank="rl"
    ).select("cu", "cv", ntile_from_rank("rl", "n", _ZO_BUCKETS).alias("bucket"))

    def stats(d: DataFrame, layout: str) -> DataFrame:
        return d.groupBy("bucket").agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
            F.min("cu").alias("min_u"),
            F.max("cu").alias("max_u"),
            F.min("cv").alias("min_v"),
            F.max("cv").alias("max_v"),
        ).select(F.lit(layout).alias("layout"), "bucket", "n",
                 "min_u", "max_u", "min_v", "max_v")

    return stats(zb, "zorder").unionByName(stats(lb, "linear"))


# --- interval overlap join (bucketed, count-once) --------------------------

#: Day width in microseconds; promo calendar epoch (2024-01-01 UTC).
_DAY_US = 86_400_000_000
_CAL_EPOCH_US = 1_704_067_200_000_000
#: 10 promo windows: promo i covers days [3i, 3i+2) of January 2024.
_N_PROMOS = 10


@register(
    "interval_overlap_join",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   > 1800000000
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts, event_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), sessions AS (
  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         epoch_us(MIN(ts)) AS ss, epoch_us(MAX(ts)) AS se
  FROM numbered GROUP BY user_id, session_id
), promos AS (
  SELECT CAST(i AS BIGINT) AS promo_id,
         {_CAL_EPOCH_US} + 3 * i * {_DAY_US} AS ps,
         {_CAL_EPOCH_US} + (3 * i + 2) * {_DAY_US} AS pe
  FROM range(0, {_N_PROMOS}) t(i)
), sd AS (
  SELECT s.*, unnest(generate_series(ss // {_DAY_US}, se // {_DAY_US})) AS b
  FROM sessions s
), pd AS (
  SELECT p.*, unnest(generate_series(ps // {_DAY_US}, (pe - 1) // {_DAY_US})) AS b
  FROM promos p
)
SELECT sd.user_id, sd.session_id, pd.promo_id,
       CAST((LEAST(sd.se, pd.pe - 1) - GREATEST(sd.ss, pd.ps)) // 1000000
            AS BIGINT) AS overlap_seconds
FROM sd JOIN pd ON sd.b = pd.b
WHERE sd.ss < pd.pe AND pd.ps <= sd.se
  AND sd.b = GREATEST(sd.ss, pd.ps) // {_DAY_US}
""",
    tags=("join", "interval", "overlap", "bucketed"),
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL OVERLAP join — sessions × promotion windows — via the
    bucketed count-once plan, the standard way to keep an
    interval-intersection join off the n×m cliff: both interval sets
    explode into the DAY buckets they span, pairs meet on a bucket
    equi-join (shuffle on the bucket key, never a cross product),
    and each overlapping pair survives EXACTLY once — in the bucket
    containing the overlap's start (b = ⌊max(ss, ps)/day⌋) — so no
    distinct/dedup pass is needed. The overlap length is exact
    integer microsecond arithmetic.

    The promo side here is a generated 10-row calendar (bounded —
    AQE broadcasts it at this scale), but the plan is the TWO-LARGE-
    SIDES shape: nothing about the bucket join or the count-once
    rule assumes either side fits in memory; bucket width trades
    explosion factor (intervals/bucket-span) against per-bucket
    density — day buckets fit sessions (hours) and promos (2 days).

    Session bounds reuse ``sessionize_events``'s exact pipeline
    (same CTEs in the oracle); intervals are half-open on the promo
    side, inclusive on the observed session side."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    new_session = (
        prev_ts.isNull()
        | ((F.col("ts") - prev_ts) > F.expr("INTERVAL 30 MINUTES"))
    ).cast("int")
    numbered = ev.select(
        "user_id", "ts", "event_id", new_session.alias("new_session")
    ).withColumn("session_id", F.sum("new_session").over(wcum))
    sessions = (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.expr("unix_micros(CAST(MIN(ts) AS TIMESTAMP))").alias("ss"),
            F.expr("unix_micros(CAST(MAX(ts) AS TIMESTAMP))").alias("se"),
        )
        .select(
            "user_id",
            F.col("session_id").cast("long").alias("session_id"),
            "ss",
            "se",
        )
    )
    promos = spark.range(0, _N_PROMOS).select(
        F.col("id").alias("promo_id"),
        (F.lit(_CAL_EPOCH_US) + 3 * F.col("id") * _DAY_US).alias("ps"),
        (F.lit(_CAL_EPOCH_US) + (3 * F.col("id") + 2) * _DAY_US).alias("pe"),
    )
    sd = sessions.select(
        "user_id", "session_id", "ss", "se",
        F.explode(
            F.expr(f"sequence(ss div {_DAY_US}, se div {_DAY_US})")
        ).alias("b"),
    )
    pd_ = promos.select(
        "promo_id", "ps", "pe",
        F.explode(
            F.expr(f"sequence(ps div {_DAY_US}, (pe - 1) div {_DAY_US})")
        ).alias("b"),
    )
    return (
        sd.join(pd_, "b")
        .filter(
            (F.col("ss") < F.col("pe"))
            & (F.col("ps") <= F.col("se"))
            & (F.col("b") == F.expr(f"GREATEST(ss, ps) div {_DAY_US}"))
        )
        .select(
            "user_id",
            "session_id",
            "promo_id",
            F.expr(
                "CAST((LEAST(se, pe - 1) - GREATEST(ss, ps)) div 1000000"
                " AS BIGINT)"
            ).alias("overlap_seconds"),
        )
    )
