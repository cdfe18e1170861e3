"""Facade + SQL-surface + bucketing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_citation_spark.engine import AnalyticsEngine
from mapreduce_citation_spark.plans import explain_str


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return AnalyticsEngine(spark, sf_dir).register_views()


def test_sql_surface_matches_dataframe_query(engine, spark, sf_dir):
    via_sql = engine.sql(
        "SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey"
    )
    via_df = engine.table("orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    assert sorted(map(tuple, via_sql.collect())) == sorted(map(tuple, via_df.collect()))


def test_named_query_dispatch(engine):
    assert "q1_pricing_summary" in engine.query_names()
    assert engine.query("q1_pricing_summary").count() > 0


def test_citations_facade_report(engine):
    report = engine.citations().format_report(k=5, timestamp="t")
    assert "Top 5 Most Cited Papers" in report


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both sides on the join key lets the join run with no
    Exchange on either side — the co-located-join strategy for
    repeated large joins at scale."""
    import shutil

    warehouse_db = "bucketdb"
    # the warehouse dir persists across sessions while the in-memory
    # catalog does not — clear any stale location first
    for t in ("orders_b", "customer_b"):
        spark.sql(f"DROP TABLE IF EXISTS {warehouse_db}.{t}")
    shutil.rmtree("spark-warehouse/bucketdb.db", ignore_errors=True)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {warehouse_db}")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    (orders.write.mode("overwrite").bucketBy(4, "o_custkey")
        .sortBy("o_custkey").saveAsTable(f"{warehouse_db}.orders_b"))
    (customer.write.mode("overwrite").bucketBy(4, "c_custkey")
        .sortBy("c_custkey").saveAsTable(f"{warehouse_db}.customer_b"))
    ob = spark.table(f"{warehouse_db}.orders_b")
    cb = spark.table(f"{warehouse_db}.customer_b")
    # disable broadcast so the bucketed path (not broadcast) is chosen
    joined = ob.hint("merge").join(cb, ob.o_custkey == cb.c_custkey)
    plan = explain_str(joined, "simple")
    assert "Exchange hashpartitioning" not in plan, plan
    assert joined.count() == orders.count()


def test_join_bucketed_fact_fact_plan_and_result(spark, sf_dir):
    """The bucketed bench query must (a) agree with the unbucketed
    join, (b) show NO exchange or sort on either join input — the
    bucket layout feeds the sort-merge join directly; the single
    remaining exchange is the final groupBy."""
    from mapreduce_citation_spark.operators.joins import (
        join_bucketed_fact_fact,
        join_fact_fact,
    )

    bucketed = join_bucketed_fact_fact(spark, sf_dir)
    plain = join_fact_fact(spark, sf_dir)
    a = sorted(map(tuple, bucketed.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b

    # AQE's simple explain appends an "Initial Plan" copy — count the
    # final plan only
    plan = explain_str(bucketed, "simple").split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in plan
    # join inputs come straight from bucket files — the ONLY exchange
    # in the whole plan is the final 5-group aggregation (per-task
    # sorts remain: Spark only elides them at one-file-per-bucket)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_bucketed_table_rebuilds_on_source_change(spark, tmp_path):
    """The staleness guard: same source mtime -> reuse; changed
    mtime -> rebuild (results track the new data)."""
    import os
    import shutil
    from urllib.parse import urlparse

    from mapreduce_citation_spark.operators.joins import bucketed_table

    src_dir = tmp_path / "sfx"
    src_dir.mkdir()
    spark.range(0, 10).selectExpr("id AS o_orderkey").write.parquet(
        str(src_dir / "orders.parquet")
    )
    t1 = bucketed_table(spark, str(src_dir), "orders", "o_orderkey", n_buckets=2)
    assert t1.count() == 10
    # the table lives in this process's own dir, never the shared
    # warehouse dir two processes from one working directory would
    # both write
    shared = os.path.realpath("spark-warehouse") + os.sep
    files = [urlparse(f).path for f in t1.inputFiles()]
    assert files and not any(os.path.realpath(f).startswith(shared) for f in files)
    # regenerate with different content and a newer mtime
    shutil.rmtree(str(src_dir / "orders.parquet"))
    spark.range(0, 7).selectExpr("id AS o_orderkey").write.parquet(
        str(src_dir / "orders.parquet")
    )
    os.utime(
        str(src_dir / "orders.parquet"),
        (os.path.getmtime(str(src_dir / "orders.parquet")) + 5,) * 2,
    )
    t2 = bucketed_table(spark, str(src_dir), "orders", "o_orderkey", n_buckets=2)
    assert t2.count() == 7


def test_partition_pruned_join_uses_dpp_and_matches_flat(spark, sf_dir):
    """The partitioned-warehouse join must (a) trigger a dynamic
    partition pruning subquery on the fact scan, (b) read only the
    projected columns, and (c) return exactly the flat twin's rows."""
    from mapreduce_citation_spark.operators.joins import (
        join_partition_flat,
        join_partition_pruned,
    )

    pruned = join_partition_pruned(spark, sf_dir)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    # column pruning: the fact scan carries only price/discount/month
    scan = next(l for l in plan.splitlines() if "lineitem_pt_" in l)
    assert "l_extendedprice" in scan and "l_orderkey" not in scan

    got = {r["ship_month"]: (r["n_lines"], r["revenue"]) for r in pruned.collect()}
    want = {
        r["ship_month"]: (r["n_lines"], r["revenue"])
        for r in join_partition_flat(spark, sf_dir).collect()
    }
    assert got == want and got


@pytest.mark.parametrize("var, value", [
    ("SPARK_GRAFT_CPUS", "abc"),
    ("SPARK_GRAFT_CPUS", "0"),
    ("SPARK_GRAFT_CPUS", "-2"),
    ("SPARK_GRAFT_DRIVER_MEM", "lots"),
    ("SPARK_GRAFT_DRIVER_MEM", "8 g"),
])
def test_session_rejects_malformed_env_before_any_jvm(monkeypatch, var, value):
    """A malformed core count or heap size raises a ValueError naming
    the variable and its value, before the session builder is touched."""
    from mapreduce_citation_spark import session

    class NoBuilder:
        @property
        def builder(self):
            raise AssertionError("the session builder was reached")

    monkeypatch.setattr(session, "SparkSession", NoBuilder())
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "4g")
    monkeypatch.setenv(var, value)
    with pytest.raises(ValueError, match=f"{var}='{value}'"):
        session.get_spark("bad-env")


def test_session_accepts_jvm_size_syntax(monkeypatch):
    from mapreduce_citation_spark import session

    for mem in ("8g", "4096m", "512MB", "2T", "1048576k"):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", mem)
        assert session.driver_memory() == mem
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert session.driver_memory() == "8g"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "12")
    assert session.default_parallelism() == 12
