"""Tests of the measuring tools under ``tools/``: the import guard, the
repack checksum, the broadcast-hint audit, the two-revision A/B
harness and the scale curves."""

from __future__ import annotations

import ast
import glob
import importlib
import json
import os
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreduce_citation_spark.registry import all_specs
from tools import audit_plans, scale
from tools.ab import normalize_plan, run_query, worker_env
from tools.repack_rowgroups import _checksum

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_OWN = ("mapreduce_citation_spark", "bench", "tools")


def _own_imports(path: str):
    """(module, name) for every ``from <own module> import name`` and
    (module, None) for every ``import <own module>`` in one file."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if node.module.split(".")[0] in _OWN:
                for alias in node.names:
                    yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] in _OWN:
                    yield alias.name, None


def test_tools_imports_resolve():
    """A tool that imports a name the package no longer has fails here,
    not when someone next runs it."""
    missing = []
    for path in sorted(glob.glob(os.path.join(ROOT, "tools", "*.py"))):
        for module, name in _own_imports(path):
            mod = importlib.import_module(module)
            if name is None or hasattr(mod, name):
                continue
            try:
                importlib.import_module(f"{module}.{name}")
            except ModuleNotFoundError:
                missing.append(f"{os.path.basename(path)}: {module}.{name}")
    assert not missing, missing


def test_repack_checksum_covers_every_column(tmp_path):
    """Two files that differ only in their second column must not get
    the same checksum."""
    one, two = str(tmp_path / "one.parquet"), str(tmp_path / "two.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), one)
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "w"]}), two)
    con = duckdb.connect()
    assert _checksum(con, one) == _checksum(con, one)
    assert _checksum(con, one)[0] == _checksum(con, two)[0] == 3
    assert _checksum(con, one) != _checksum(con, two)



def test_broadcast_audit_flags_stale_allowlist_entries(monkeypatch):
    """The broadcast-hint audit passes on the tree, and an allowlist
    entry that names no hint in the source is a violation."""
    assert audit_plans.audit_broadcast_hints() == 0
    monkeypatch.setitem(
        audit_plans.BROADCAST_ALLOWLIST, ("similarity.py", "gone"), "stale"
    )
    assert audit_plans.audit_broadcast_hints() == 1

def test_normalize_plan_strips_run_dependent_ids():
    a = (
        "(3) Exchange\nInput [2]: [paper_id#123, citations#45L]\n"
        "Arguments: hashpartitioning(paper_id#123, 4), ENSURE_REQUIREMENTS, "
        "[plan_id=17]\n(1) Scan ExistingRDD\nMapPartitionsRDD[217] at "
        "localCheckpoint\n"
    )
    b = (
        a.replace("#123", "#9").replace("#45L", "#6L")
        .replace("plan_id=17", "plan_id=2").replace("RDD[217]", "RDD[220]")
    )
    assert normalize_plan(a) == normalize_plan(b)
    assert normalize_plan(a) == (
        "(3) Exchange\nInput [2]: [paper_id#, citations#]\n"
        "Arguments: hashpartitioning(paper_id#, 4), ENSURE_REQUIREMENTS\n"
        "(1) Scan ExistingRDD\nMapPartitionsRDD[N] at localCheckpoint\n"
    )
    assert normalize_plan(a) != normalize_plan(a.replace(", 4)", ", 5)"))


def test_ab_worker_heap_is_a_quarter_of_host_memory(tmp_path):
    """Without ``SPARK_GRAFT_DRIVER_MEM`` each A/B worker gets a quarter
    of ``MemTotal``, clamped to 1g-8g; a value the caller set wins."""
    meminfo = tmp_path / "meminfo"

    def heap(gib: int, environ: dict | None = None) -> str:
        meminfo.write_text(
            f"MemTotal:       {gib * 1024 * 1024} kB\nMemFree:        1024 kB\n"
        )
        return worker_env(environ or {"PATH": "/bin"}, str(meminfo))[
            "SPARK_GRAFT_DRIVER_MEM"
        ]

    assert heap(16) == "4096m"
    assert heap(2) == "1024m"
    assert heap(64) == "8192m"
    assert heap(16, {"SPARK_GRAFT_DRIVER_MEM": "2g"}) == "2g"
    assert worker_env({"PATH": "/bin"}, str(meminfo))["PATH"] == "/bin"


def test_ab_run_counts_stream_micro_batch_jobs(spark, sf_dir):
    """A stream's micro-batches run under the stream's own job group,
    not the caller's. A run's job count includes them, so on a
    streaming family it exceeds what the calling thread's group sees
    for the same build and drain (2 at the fixture scale)."""
    fn = all_specs()["streaming_tumbling_counts"].fn
    sc = spark.sparkContext
    sc.setJobGroup("caller", "build + drain")
    try:
        spark.catalog.clearCache()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        caller = len(sc.statusTracker().getJobIdsForGroup("caller"))
    finally:
        sc._jsc.clearJobGroup()
    run = run_query(spark, fn, sf_dir)
    assert run["digest"][0] > 0
    assert run["jobs"] > caller >= 1


@pytest.mark.skipif(
    not os.path.exists(os.path.join(ROOT, ".git")),
    reason="ab.py compares against a git revision; this checkout has none",
)
def test_ab_head_against_worktree_end_to_end(sf_dir, tmp_path):
    """HEAD against the working tree on a query neither side changes:
    exit 0, one digest over all runs, identical plans."""
    ab = [sys.executable, os.path.join(ROOT, "tools", "ab.py")]
    out = tmp_path / "ab.json"
    run = subprocess.run(
        [*ab, "HEAD", "top_cited", "--sf-dir", sf_dir, "--json", str(out)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    q = json.loads(out.read_text())["queries"]["top_cited"]
    assert len(q["digests"]) == 1 and q["digests"][0][0] == 30
    assert len(q["base"]["runs_s"]) == len(q["change"]["runs_s"]) == 5

    plans = subprocess.run(
        [*ab, "--plans", "HEAD", "top_cited", "--sf-dir", sf_dir],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert plans.returncode == 0, plans.stdout[-3000:] + plans.stderr[-3000:]
    assert "top_cited: identical" in plans.stdout


def _points(*facts: dict) -> list[dict]:
    """Scale points at K = 1, 10, 100 with the given facts."""
    return [{"k": k, **f} for k, f in zip((1, 10, 100), facts)]


def _holds(check, points: list[dict]) -> bool:
    try:
        for pt in points:
            check(pt, points[0])
    except AssertionError:
        return False
    return True


@pytest.mark.parametrize("check, linear, leaky", [
    (scale.exact("rows"),
     _points({"rows": 7}, {"rows": 70}, {"rows": 700}),
     _points({"rows": 7}, {"rows": 71}, {"rows": 700})),
    (scale.exact("edges", "rows"),
     _points({"edges": 5, "rows": 3}, {"edges": 50, "rows": 30}),
     _points({"edges": 5, "rows": 3}, {"edges": 51, "rows": 30})),
    (scale.near("rows"),
     _points({"rows": 100}, {"rows": 1040}, {"rows": 9600}),
     _points({"rows": 100}, {"rows": 1060})),
    (scale.nonzero("dup_sum"),
     _points({"dup_sum": 3}, {"dup_sum": 30}),
     _points({"dup_sum": 0}, {"dup_sum": 0})),
    (scale.fixed_rows(8),
     _points({"rows": 8}, {"rows": 8}, {"rows": 8}),
     _points({"rows": 8}, {"rows": 9})),
    (scale.planted_floor(50),
     _points({"rows": 50}, {"rows": 512}),
     _points({"rows": 50}, {"rows": 499})),
    (scale.funnel_stages,
     _points({"stages": {"0_total": 5000, "1_q": 900, "2_e": 800, "3_n": 700, "4_d": 600}},
             {"stages": {"0_total": 50000, "1_q": 1000, "2_e": 900, "3_n": 800, "4_d": 700}}),
     _points({"stages": {"0_total": 5000, "1_q": 900, "2_e": 800, "3_n": 700, "4_d": 600}},
             {"stages": {"0_total": 50001, "1_q": 1000, "2_e": 900, "3_n": 800, "4_d": 700}})),
    (scale.walks_contained,
     _points({"crossers": 0}, {"crossers": 0}),
     _points({"crossers": 0}, {"crossers": 1})),
    (scale.fixed_delta,
     _points({"delta": 625}, {"delta": 625}, {"delta": 625}),
     _points({"delta": 625}, {"delta": 626})),
    (scale.same_rejections,
     _points({"rejections": [[8, "exact"], [16, "near"]]},
             {"rejections": [[8, "exact"], [16, "near"]]}),
     _points({"rejections": [[8, "exact"], [16, "near"]]},
             {"rejections": [[8, "exact"], [16, "exact"]]})),
], ids=lambda v: getattr(v, "__name__", None))
def test_scale_check_passes_linear_and_fails_leaky(check, linear, leaky):
    """Each construction check holds on a K-linear ladder and fails on
    a leaky one: K·base+1 rows, a drifted rejection set, one walk that
    crossed replicas."""
    assert _holds(check, linear)
    assert not _holds(check, leaky)


def test_scale_tables_name_real_queries_and_units():
    """Every checked or fact-gathering name is a registered query or a
    unit, and every unit has checks."""
    specs = all_specs()
    for name in [*scale.CHECKS, *scale.FACTS]:
        assert name in specs or name in scale.UNITS, name
    assert set(scale.UNITS) <= set(scale.CHECKS)


def test_scale_replica_ladder_starts_at_one():
    """Every check compares against the first point, so a replica
    ladder must start at 1×; the error comes before any staging."""
    with pytest.raises(ValueError, match="first K must be 1"):
        scale.ladder(None, "edges:10,100")


def test_stage_edges_offsets_each_replica(spark, sf_dir, tmp_path):
    """k=2 gives twice the base edges; replica 1 is replica 0 with every
    node id shifted by the stride."""
    one = spark.read.parquet(scale.stage_edges(spark, 1, sf_dir, str(tmp_path)))
    two = spark.read.parquet(scale.stage_edges(spark, 2, sf_dir, str(tmp_path)))
    base = sorted((int(r.from_paper), int(r.to_paper)) for r in one.collect())
    both = sorted((int(r.from_paper), int(r.to_paper)) for r in two.collect())
    stride = scale.NODE_STRIDE
    assert len(base) > 0 and max(max(e) for e in base) < stride
    assert both == sorted(base + [(a + stride, b + stride) for a, b in base])


def test_scale_curve_over_two_fixture_dirs(spark, sf_dir):
    """One curve over the ladder sf0.001,sf0.01: a point per dir with
    its K, the output rows, three timed runs with their jobs, and one
    adjacent-point ratio."""
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    points = scale.ladder(spark, f"{sf_dir},{sf01}")
    assert [k for _, k in points] == [1, 10]
    report = scale.curve(spark, "top_cited", points)
    pts = report["points"]
    assert [p["rows"] for p in pts] == [30, 30]
    for p in pts:
        assert len(p["runs_s"]) == len(p["jobs"]) == scale.RUNS
        assert p["sec"] == sorted(p["runs_s"])[1] and min(p["jobs"]) >= 1
    assert report["ratios"] == [
        {"k_x": 10.0, "time_x": round(pts[1]["sec"] / pts[0]["sec"], 2)}
    ]
