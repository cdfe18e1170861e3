"""Tests for the citation slice — the reference's full observable
behavior (SURVEY.md §2 ops #1-17, §5 determinism spec)."""

from __future__ import annotations

import os

import pytest

from mapreduce_citation_spark.citations import CitationAnalytics, edges_from_orders
from mapreduce_citation_spark.plans import assert_in_plan
from mapreduce_citation_spark.sources.readers import read_edges_text

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "citations_small.txt")

# citations_small.txt ground truth:
#   9905111: 5 (includes a duplicate edge — duplicates count, mapper.py:78)
#   99: 3, 100: 2, 42: 1, 9: 1
EXPECTED = {"9905111": 5, "99": 3, "100": 2, "42": 1, "9": 1}
N_VALID = 12
N_MALFORMED = 2  # "malformed line without tab", "1009 too many tabs"


@pytest.fixture(scope="module")
def analytics(spark):
    return CitationAnalytics.from_text(spark, FIXTURE)


def test_edge_scan_drops_comments_blank_malformed(spark):
    edges = read_edges_text(spark, FIXTURE)
    assert edges.count() == N_VALID
    assert edges.columns == ["from_paper", "to_paper"]


def test_edge_scan_keep_surfaces_malformed(spark):
    kept = read_edges_text(spark, FIXTURE, malformed="keep")
    bad = kept.filter(kept.to_paper.isNull() | kept.from_paper.isNull())
    assert bad.count() == N_MALFORMED


def test_edge_scan_fail_raises(spark):
    with pytest.raises(Exception, match="(?i)malformed"):
        # collect, not count: count() prunes the projected columns, so the
        # raise_error expression would be optimized away before evaluating
        read_edges_text(spark, FIXTURE, malformed="fail").collect()


def test_citation_counts(analytics):
    got = {r["paper_id"]: r["citations"] for r in analytics.citation_counts().collect()}
    assert got == EXPECTED


def test_counts_invariants(analytics):
    counts = analytics.citation_counts()
    # one row per key; sum of counts == number of valid edges
    assert counts.count() == counts.select("paper_id").distinct().count()
    assert counts.groupBy().sum("citations").collect()[0][0] == N_VALID


def test_top_cited_deterministic_tiebreak(analytics):
    rows = analytics.top_cited(30).collect()
    assert [r["paper_id"] for r in rows] == ["9905111", "99", "100", "42", "9"]
    # "42" < "9" lexicographically (string IDs — numeric order would say 9 < 42)
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]


def test_citing_papers_sorted_distinct(analytics):
    row = {r["paper_id"]: r for r in analytics.citing_papers().collect()}["9905111"]
    # duplicate edge 1001→9905111 collapses in the distinct-citer view
    assert row["citing"] == ["1001", "1002", "1003", "1010"]
    assert row["n_citing"] == 4


def test_report_format_matches_reference_layout(analytics):
    report = analytics.format_report(timestamp="2026-01-01 00:00:00")
    lines = report.splitlines()
    assert lines[0] == "=" * 50
    assert lines[1] == "Top 30 Most Cited Papers"
    assert lines[2] == "=" * 50
    assert lines[3] == ""
    assert lines[4] == f"{'Rank':<6}{'Paper ID':<15}{'Citations':>10}"
    assert lines[5] == "-" * 31
    assert lines[6] == f"{'1':<6}{'9905111':<15}{5:>10,}"
    assert lines[-2] == "-" * 31
    assert lines[-1] == "Generated on: 2026-01-01 00:00:00"


def test_report_thousands_separator(spark):
    # 1,234 citations must render with a comma (master.py:219 "{:>10,}")
    edges = spark.createDataFrame(
        [("c%d" % i, "p") for i in range(1234)], ["from_paper", "to_paper"]
    )
    report = CitationAnalytics(edges).format_report(timestamp="x")
    assert "     1,234" in report


def test_topk_plan_is_take_ordered(analytics):
    # limit-after-sort must plan TakeOrderedAndProject, not a global sort
    topk = (
        analytics.citation_counts()
        .orderBy("citations", ascending=False)
        .limit(30)
    )
    assert_in_plan(topk, "TakeOrderedAndProject")


def test_flagship_on_fixtures(spark, sf_dir):
    from mapreduce_citation_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    ca = CitationAnalytics(edges_from_orders(orders))
    top = ca.top_cited(30).collect()
    assert len(top) == 30
    assert top[0]["citations"] >= top[-1]["citations"]
    # scan should prune to the two id columns only
    from mapreduce_citation_spark.plans import read_schema_columns

    scans = read_schema_columns(ca.citation_counts())
    assert scans and set(scans[0]) == {"o_custkey"} | set()
