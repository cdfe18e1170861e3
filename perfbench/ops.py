"""The workloads and their op kinds.

Each workload drives two op kinds of the package's public API in a
closed loop with one client: a *primary* op (the one the workload is
built around) and a *secondary* op. Every op is split the same way:

- build: the calls into ``sources``, ``cache`` and ``operators`` up to
  the returned DataFrame (iterative operators run eager jobs here);
- drain: ``write.format("noop")`` of that DataFrame (never ``count()``,
  which lets Catalyst prune the work), or, for the report, the
  package's own ``format_report``;
- check: the op's output against the expected output, read from an
  ``Observation`` filled during the drain, so checking costs no job.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from expect import WALK_COLS


@dataclass
class Built:
    df: DataFrame | None = None  # drained to the noop sink
    obs: Observation | None = None
    value: Any = None  # op-specific state for drain/check
    plan: Callable[[], DataFrame] | None = None  # final DataFrame, for Catalyst


@dataclass
class Ctx:
    spark: Any
    span: Callable  # span(name) -> context manager
    path: str  # the workload's input file
    expected: dict

    @property
    def sf_dir(self) -> str:
        """The input's directory, for operators that load a fixture table."""
        return os.path.dirname(self.path)


@dataclass(frozen=True)
class Op:
    kind: str
    build: Callable[[Ctx], Built]
    check: Callable[[Ctx, Built], str | None]
    drain: Callable[[Ctx, Built], None] | None = None


@dataclass(frozen=True)
class Workload:
    name: str
    input: str  # a gen.ensure_input name
    primary: Op
    secondary: Op


def _digest(cols: tuple[str, ...]):
    joined = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    return F.sum(F.conv(F.substring(F.md5(joined), 1, 8), 16, 10).cast("long"))


def _observed(df: DataFrame, name: str, *aggs) -> Built:
    obs = Observation(name)
    return Built(df=df.observe(obs, *aggs), obs=obs, plan=lambda: df)


def _mismatch(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {str(got)[:200]}, want {str(want)[:200]}"


# --- citation_report -----------------------------------------------------


def _analytics(ctx: Ctx):
    from mapreduce_citation_spark.citations import CitationAnalytics

    with ctx.span("sources.from_text"):
        return CitationAnalytics.from_text(ctx.spark, ctx.path)


def build_counts(ctx: Ctx) -> Built:
    ca = _analytics(ctx)
    with ctx.span("operators.citation_counts"):
        df = ca.citation_counts()
    return _observed(
        df, "counts", F.count(F.lit(1)).alias("rows"), F.sum("citations").alias("citations")
    )


def check_counts(ctx: Ctx, b: Built) -> str | None:
    got = b.obs.get
    want = ctx.expected
    return _mismatch("counts (rows, citations)", (got["rows"], got["citations"]),
                     (want["rows"], want["citations"]))


def build_report(ctx: Ctx) -> Built:
    ca = _analytics(ctx)
    return Built(value=ca, plan=lambda: ca.top_cited(30))


def drain_report(ctx: Ctx, b: Built) -> None:
    b.value = b.value.format_report(30, timestamp="-")


def parse_report(text: str) -> tuple[str, list[list]]:
    """Title line and (rank, paper_id, citations) rows of a report."""
    lines = text.splitlines()
    rule = [i for i, line in enumerate(lines) if line == "-" * 31]
    rows = []
    for line in lines[rule[0] + 1 : rule[1]]:
        if line.strip():
            rank, paper, cites = line.split()
            rows.append([int(rank), paper, int(cites.replace(",", ""))])
    return lines[1], rows


def check_report(ctx: Ctx, b: Built) -> str | None:
    title, rows = parse_report(b.value)
    return _mismatch("report title", title, "Top 30 Most Cited Papers") or _mismatch(
        "report top-30", rows, ctx.expected["top30"]
    )


# --- citation_pagerank ---------------------------------------------------


def _edges(ctx: Ctx) -> DataFrame:
    from mapreduce_citation_spark.cache import cache_corpus
    from mapreduce_citation_spark.operators.graph import edges_from_lineitem
    from mapreduce_citation_spark.sources.readers import load_table

    with ctx.span("sources.load_table"):
        edges = edges_from_lineitem(load_table(ctx.spark, ctx.sf_dir, "lineitem"))
    with ctx.span("cache.cache_corpus"):
        return cache_corpus(edges)


def build_pagerank(ctx: Ctx) -> Built:
    """``pagerank_fixed_point`` (6 iterations) and the top-20 of
    ``citation_pagerank``."""
    from mapreduce_citation_spark.operators.graph import pagerank_fixed_point

    edges = _edges(ctx)
    with ctx.span("operators.pagerank_fixed_point"):
        ranks = pagerank_fixed_point(edges, iterations=6)
    top = (
        ranks.orderBy(F.col("rank_q").desc(), F.col("node").asc())
        .limit(20)
        .select("node", (F.col("rank_q").cast("double") / F.lit(1e15)).alias("rank"))
    )
    return _observed(top, "pagerank", F.collect_list(F.struct("node", "rank")).alias("rows"))


def check_pagerank(ctx: Ctx, b: Built) -> str | None:
    rows = sorted(([r["node"], r["rank"]] for r in b.obs.get["rows"]),
                  key=lambda r: (-r[1], r[0]))
    return _mismatch("pagerank top-20", rows, ctx.expected["pagerank"])


def build_walks(ctx: Ctx) -> Built:
    from mapreduce_citation_spark.operators.graph import random_walks

    edges = _edges(ctx)
    with ctx.span("operators.random_walks"):
        df = random_walks(edges)
    return _observed(df, "walks", F.count(F.lit(1)).alias("n"), _digest(WALK_COLS).alias("d"))


def check_walks(ctx: Ctx, b: Built) -> str | None:
    got = b.obs.get
    return _mismatch("walks (rows, digest)", [got["n"], got["d"]], ctx.expected["walks"])


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "citation_report",
            "citations",
            Op("counts", build_counts, check_counts),
            Op("report", build_report, check_report, drain_report),
        ),
        Workload(
            "citation_pagerank",
            "graph",
            Op("pagerank", build_pagerank, check_pagerank),
            Op("walks", build_walks, check_walks),
        ),
    )
}
