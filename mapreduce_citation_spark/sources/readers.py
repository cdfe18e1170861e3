"""Sources: edge-list text readers + fixture-table loaders.

The reference's only source is a line-delimited tab-separated edge
list with ``#`` comment lines, blank lines, and malformed rows that
are dropped rather than fatal (reference: worker/mapper/mapper.py:74-80,
master/master.py:96-106, check.py:15-25). Here that whole pipeline is a
declarative scan: Spark plans FileScan → Filter → Project with
whole-stage codegen, splits the file by byte ranges (no driver-resident
partitioning pass like master/master.py:91-127), and pushes the
projection down. The parse cuts each trimmed line at the first
separator with ``instr``/``substr`` — literal, character-counting
string built-ins — not with a regex ``split``.

Fixture tables are columnar parquet (TESTDATA.md); ``load_table``
is the one place scan options live.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

#: Schema of the citation edge list: "from_paper cites to_paper" (the
#: ``edgelist`` connector's schema).
#: IDs stay strings end-to-end — lexicographic tie-break ordering is
#: semantic (reference: master/master.py:218 sorts the string id).
EDGE_SCHEMA = StructType(
    [
        StructField("from_paper", StringType(), nullable=False),
        StructField("to_paper", StringType(), nullable=False),
    ]
)

#: Fixture tables available at each scale-factor dir (TESTDATA.md).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: ``substr`` length that always reaches the end of the line.
_INT_MAX = 2**31 - 1


def read_edges_text(
    spark: SparkSession,
    path: str,
    sep: str = "\t",
    comment: str = "#",
    malformed: str = "drop",
) -> DataFrame:
    """Read a citation edge list from line-delimited text.

    Implements SURVEY.md §2 ops #1–4 declaratively:

    #1 text scan, #2 comment/blank filter, #3 parse of the trimmed line
    into (from_paper, to_paper) at the first ``sep``, #4 malformed-row
    policy. A row is valid when both fields are non-empty and the second
    holds no further ``sep`` — exactly two non-empty fields, as the
    reference's split would give. ``sep`` and ``comment`` are literal
    strings, never patterns. ``malformed``:

    - ``"drop"`` (reference behavior, mapper.py:74-80): rows that do
      not split into exactly two non-empty fields are silently dropped.
    - ``"fail"``: raise on first malformed row (strict-ETL mode); the
      error carries the whole trimmed line.
    - ``"keep"``: malformed rows surface with NULL fields so callers
      can count/quarantine them (dead-letter pattern).

    Everything stays JVM-side in one whole-stage-codegen span of
    codegen'd built-ins: ``trim`` and ``startswith``, then one
    ``instr`` for the separator's position in its own projection, then
    two ``substr`` of it with a constant length. ``instr``, ``substr``,
    ``length`` and ``locate`` are literal and count characters on the
    ``UTF8String`` itself, so non-ASCII IDs parse as they read.
    ``split`` is not used: it compiles ``sep`` as a Java regex, converts
    every line to a ``java.lang.String`` and back and allocates an array
    per line, which made the parse most of the citation count's CPU.

    Two things keep each expression evaluated once per line where it
    can be. Common-subexpression elimination reaches neither into
    ``CASE WHEN`` branches nor into a ``Filter``, so the position is its
    own ``select`` rather than recomputed per field. And Catalyst pushes
    the validity filter below those projections, so the rule is stated
    on the position (``_pos > 1``, the second field's start within
    ``length``, no ``sep`` from there on) instead of on the two
    substrings, which the filter would otherwise copy again.
    """
    if not sep:
        raise ValueError("sep must be a non-empty string")
    if not comment:
        raise ValueError("comment must be a non-empty string")
    if malformed not in ("drop", "fail", "keep"):
        raise ValueError(f"malformed policy must be drop|fail|keep, got {malformed!r}")
    line, pos = F.col("_line"), F.col("_pos")
    lines = (
        spark.read.text(path)
        .select(F.trim(F.col("value")).alias("_line"))
        .filter((line != F.lit("")) & ~line.startswith(comment))
    )
    located = lines.select(line, F.instr(line, sep).alias("_pos"))
    start = pos + len(sep)  # first character of to_paper
    ok = (
        (pos > 1)
        & (start <= F.length(line))
        & (F.call_function("locate", F.lit(sep), line, start) == 0)
    )
    from_paper = line.substr(F.lit(1), pos - 1)
    to_paper = line.substr(start, F.lit(_INT_MAX))
    if malformed == "drop":
        return located.filter(ok).select(
            from_paper.alias("from_paper"), to_paper.alias("to_paper")
        )
    if malformed == "fail":
        bad = F.raise_error(F.concat(F.lit("malformed edge row: "), line))
        from_paper = F.when(ok, from_paper).otherwise(bad)
    else:
        from_paper, to_paper = F.when(ok, from_paper), F.when(ok, to_paper)
    return located.select(from_paper.alias("from_paper"), to_paper.alias("to_paper"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (columnar parquet scan with pushdown).

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark
    cannot read natively (PARQUET_TYPE_ILLEGAL); read it as bigint
    nanos under ``legacy.parquet.nanosAsLong`` and convert to a
    microsecond timestamp by truncation — the same ns→us conversion
    DuckDB applies, so oracle comparisons agree.

    The configs are set here, at the single table-loading choke point,
    because the driver hands queries an arbitrary SparkSession — the
    engine cannot assume its own session factory built it. Both confs
    are runtime-settable; UTC pins the instant→NTZ cast so the wall
    clock matches DuckDB's naive timestamps on any host timezone.

    PUBLIC-API SIDE EFFECT: loading ``events`` mutates the session
    (``session.timeZone=UTC``, ``legacy.parquet.nanosAsLong=true``)
    and deliberately does NOT restore the previous values — Spark
    reads these confs lazily at *execution* time, so restoring them
    after this call would silently mis-execute the still-lazy
    DataFrame returned here. Callers who need a different session
    timezone for unrelated queries should use a separate session (or
    re-set the conf after collecting the events results).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer DIV, not /: float division loses precision above 2^53
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several fixture tables at once; defaults to all of them."""
    use = names or FIXTURE_TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}
