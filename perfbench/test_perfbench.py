"""The benchmark's own tests: generator determinism, the report parser,
and a tiny-size smoke run of every workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from ops import WORKLOADS, parse_report  # noqa: E402


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.mark.parametrize("name", ["citations", "graph"])
def test_generator_is_deterministic(tmp_path, name):
    a, fa = gen.ensure_input(str(tmp_path / "a"), name, 5, "tiny")
    b, fb = gen.ensure_input(str(tmp_path / "b"), name, 5, "tiny")
    c, _ = gen.ensure_input(str(tmp_path / "c"), name, 6, "tiny")
    assert _digest(a) == _digest(b)
    assert fa == fb
    assert _digest(a) != _digest(c)


def test_citation_quirks_and_ties(tmp_path):
    path, facts = gen.ensure_input(str(tmp_path), "citations", 3, "tiny")
    with open(path) as f:
        lines = f.read().split("\n")
    assert lines[0].startswith("#")
    assert "" in lines and "   " in lines
    valid = [ln.strip(" ") for ln in lines if ln.strip(" ") and not ln.strip(" ").startswith("#")]
    parts = [ln.split("\t") for ln in valid]
    good = [p for p in parts if len(p) == 2 and all(p)]
    assert len(good) == facts["valid_rows"]
    assert len(good) < len(parts)  # malformed rows are present
    assert any(ln != ln.strip(" ") for ln in lines if "\t" in ln)  # padded rows
    for tie in facts["ties"]:
        ids = tie["papers"]
        assert sorted(ids) != sorted(ids, key=int)


def test_paper_ids_follow_the_arxiv_form():
    ids = gen.paper_ids(gen.HEPTH_PAPERS)
    assert len(set(ids)) == gen.HEPTH_PAPERS
    assert ids[0] == "9301001" and "1001" in ids  # Jan 1993; Jan 2000 loses its zeros
    assert max(len(i) for i in ids) == 7 and min(len(i) for i in ids) == 4
    big = gen.paper_ids(round(gen.HEPTH_PAPERS * gen.SIZES["bench"]["citation_scale"]))
    assert big[-1].startswith("304")  # Apr 2003, cit-HepTh's last month
    with pytest.raises(ValueError):
        gen.paper_ids(gen.HEPTH_MONTHS * 999 + 1)


def test_parse_report():
    text = (
        "=" * 50 + "\nTop 30 Most Cited Papers\n" + "=" * 50 + "\n\n"
        + f"{'Rank':<6}{'Paper ID':<15}{'Citations':>10}\n" + "-" * 31 + "\n"
        + f"{1:<6}{'0042':<15}{12345:>10,}\n" + "\n" + "-" * 31 + "\nGenerated on: -\n"
    )
    assert parse_report(text) == ("Top 30 Most Cited Papers", [[1, "0042", 12345]])


def test_listed_workloads_exist():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_every_metric_present(workload):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
            capture_output=True, text=True, timeout=600,
        )
        assert p.returncode == 0, p.stderr[-2000:]
        out = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 4
        want = {m["name"]: m["unit"] for m in spec[key]}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == want
