"""SparkSession factory.

One place to encode the engine's execution defaults so every entry
point (tests, bench, driver harness) runs with the same
scale-conscious configuration:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the
  static plan is never right; AQE re-plans from shuffle statistics.
- ``spark.sql.session.timeZone=UTC`` — DuckDB oracle timestamps are
  UTC-naive; pinning the session TZ makes timestamp semantics match.
- Arrow enabled — every pandas_udf / toPandas crossing is batched.
- Shuffle partitions sized to the local core count (the 200 default
  over-parallelizes small data and under-parallelizes huge data; on a
  real cluster AQE coalesces from a deliberately-high initial number).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Cores to use locally; driver exports SPARK_GRAFT_CPUS, which
    must be a positive integer."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            cores = int(env)
        except ValueError:
            cores = 0
        if cores < 1:
            raise ValueError(f"SPARK_GRAFT_CPUS={env!r}: expected a positive integer")
        return cores
    return os.cpu_count() or 4


def driver_memory() -> str:
    """The driver heap: SPARK_GRAFT_DRIVER_MEM in the JVM's size syntax
    (``8g``, ``4096m``, ``512mb``), default 8g. Checked here, so a bad
    value fails before a JVM starts rather than inside one."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    if not re.fullmatch(r"[1-9]\d*([kmgtp]b?|b)?", mem, re.IGNORECASE):
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM={mem!r}: expected a size such as 8g or 4096m"
        )
    return mem


def get_spark(
    app_name: str = "mapreduce-citation-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``getOrCreate`` reuses an existing session, so tests/bench/driver
    share one JVM. Configs that matter at scale are set here rather
    than per-query so plans are reproducible.
    """
    cores = cpus or default_parallelism()
    mem = driver_memory()
    parts = shuffle_partitions or cores
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: re-plan from runtime stats ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's coalescing floor: the 1MB default collapses byte-light
        # but CPU-heavy shuffles (millions of narrow rows, e.g. gram
        # digests) onto ONE task — measured 3-18× stage slowdowns
        # locally. A 64k floor keeps such stages parallel; it binds
        # only when shuffleBytes/parallelism < 64k, i.e. never on a
        # 100 TB cluster, where the advisory target governs.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(parts))
        # --- python<->jvm crossings are Arrow-batched ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- fixture events.parquet stores TIMESTAMP(NANOS); Spark has no
        #     nanos timestamp type, so read as bigint and convert in the
        #     events loader (truncation to micros matches DuckDB) ---
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- scan sizing: default 128m splits; fine for local + cluster ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- broadcast threshold (STATIC planner): 16 MB. Static
        #     decisions run on Catalyst's size ESTIMATES, which are
        #     crude through explode/filter chains — measured at 500k
        #     docs: a filtered gram cache estimated under the old
        #     64 MB threshold statically planned a broadcast that hit
        #     Spark's 8 GiB broadcast hard cap. With AQE on, genuinely
        #     broadcastable sides are (re)planned at runtime from
        #     MEASURED shuffle sizes, so the static threshold only
        #     needs to catch obvious dims; 16 MB covers every fixture
        #     dim (nation/region/supplier/customer/part) with the
        #     explicit F.broadcast hints unaffected. ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        # a 16 MB COMPRESSED shuffle side can still serialize to
        # >1 GB when collected for broadcast; raise maxResultSize with
        # the thresholds it serves (measured: 500k-doc substring
        # dedup, eligible-digest side, killed at the 1g default).
        .config("spark.driver.maxResultSize", "4g")
        # AQE's runtime broadcast decisions use MEASURED compressed
        # shuffle sizes — trustworthy where static estimates are not —
        # so the runtime threshold stays at 64 MB: at 500k docs the
        # measured-size broadcast of the eligible-digest side is
        # 15-20% faster than the demoted shuffle join (A/B in
        # NOTES_r6), and the build no longer races pinned checkpoint
        # blocks since the gram cache became disk-evictable. Estimates
        # gate at 16 MB (above), measurements at 64 MB.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
