"""Seeded input generators, one per benchmark input.

Every generator is a pure function of ``(seed, size)``: the same pair
writes byte-identical files (numpy's PCG64 stream, no clock, no hash
randomization). The program under test never sees the seed, only the
files. ``ensure_input`` caches each input on disk under its
``(seed, size)`` key, so a rerun with the same seed skips generation.

Inputs:

- ``citations.txt`` — the reference's input, the SNAP cit-HepTh edge
  list, scaled up. Matched to cit-HepTh: its 27,770 papers and 352,807
  edges (12.7 edges per paper) times ``citation_scale``, and its ID
  form, the arXiv number ``yymmnnn`` read as an integer, so papers from
  2000 on lose their leading zeros (``0012001`` is ``12001``) and
  numeric and lexicographic order differ, over cit-HepTh's 124 months
  (Jan 1993 to Apr 2003). Assumed, not measured on the file (it is not
  available offline): a Zipf in-degree with rank exponent 0.5, which is
  the k^-3 in-degree tail Redner (1998) found for citations, and
  uniform citing papers. Added because the reference's parser must
  tolerate them, not because cit-HepTh has them: a ``#`` header and scattered comments, blank and space-only
  lines, malformed rows (one field, three fields, an empty field, a
  space instead of the tab), space-padded rows, 2 % duplicate edges,
  and two planted groups of papers tied in count inside the top 30,
  the second straddling the rank-30 cut.
- ``graph/lineitem.parquet`` — the key columns of the ``lineitem``
  fixture that ``citation_pagerank`` is defined over (``l_orderkey``
  cites ``l_partkey``), in the fixture's own shape, measured on its
  sf0.01 and sf0.1 tables: 6 M x sf rows, each drawing ``l_orderkey``
  uniformly from [0, 1.5 M x sf) and ``l_partkey`` uniformly from
  [0, 200 k x sf). That gives about 4 rows per order, about 30 per
  part, and a few repeated pairs, which the edge derivation drops.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Input sizes by name. ``bench`` is what the timed runs use; ``tiny``
#: keeps the smoke test fast. ``citation_scale`` multiplies cit-HepTh's
#: paper and edge counts; ``graph_sf`` is the lineitem scale factor.
SIZES = {
    "bench": {"citation_scale": 4.0, "graph_sf": 0.01},
    "tiny": {"citation_scale": 0.05, "graph_sf": 0.001},
}

#: SNAP cit-HepTh, the reference's input.
HEPTH_PAPERS = 27_770
HEPTH_EDGES = 352_807
HEPTH_MONTHS = 124  # Jan 1993 to Apr 2003
#: Citation in-degree tail P(k) ~ k^-3 (Redner 1998) as a Zipf rank exponent.
ZIPF_RANK_EXPONENT = 0.5

#: Bumped when a generator's output changes, so stale caches are rebuilt.
GEN_VERSION = 3


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


# ---------------------------------------------------------------------------
# citation edge list
# ---------------------------------------------------------------------------


def paper_ids(n_papers: int) -> list[str]:
    """arXiv numbers ``yymmnnn`` from Jan 1993 to Apr 2003, as integers:
    papers spread evenly over the months, numbered from 1 within each."""
    per, extra = divmod(n_papers, HEPTH_MONTHS)
    if per + (extra > 0) > 999:
        raise ValueError(f"{n_papers} papers overflow the 3-digit monthly number")
    ids = []
    for m in range(HEPTH_MONTHS):
        year, month = divmod(1993 * 12 + m, 12)
        prefix = (year % 100) * 100 + month + 1
        ids.extend(str(prefix * 1000 + k) for k in range(1, per + (m < extra) + 1))
    return ids


def gen_citations(seed: int, scale: float, path: str) -> dict:
    """Write the edge list; return the facts the checks need that the
    file alone does not state (valid row count, planted tie groups)."""
    rng = _rng(seed, 1)
    n_papers = round(HEPTH_PAPERS * scale)
    n_edges = round(HEPTH_EDGES * scale)
    ids = paper_ids(n_papers)
    # Zipf in-degree: rank r is paper perm[r]; uniform citers
    cited_rank = np.searchsorted(_zipf_cdf(n_papers, ZIPF_RANK_EXPONENT), rng.random(n_edges))
    cited_rank = np.minimum(cited_rank, n_papers - 1)
    perm = rng.permutation(n_papers)
    to = perm[cited_rank]
    fr = rng.integers(0, n_papers, n_edges)
    # 2% duplicate edges (same pair again; the reference counts both)
    dup = rng.integers(0, n_edges, n_edges // 50)
    to = np.concatenate([to, to[dup]])
    fr = np.concatenate([fr, fr[dup]])

    # planted ties: lift tail papers to the count at rank 10 and, once
    # those 3 sit above it, to the count that lands at rank 30
    counts = np.bincount(to, minlength=n_papers)
    by_count = np.argsort(-counts, kind="stable")
    tail = by_count[n_papers // 2 :]
    ties = []
    extra_to = []
    used: set[int] = set()
    for rank, group in ((9, 3), (26, 4)):
        target = int(counts[by_count[rank]])
        while True:
            pick = [int(p) for p in rng.choice(tail, size=group, replace=False)]
            names = [ids[p] for p in pick]
            if not used.intersection(pick) and sorted(names) != sorted(names, key=int):
                break
        used.update(pick)
        for p in pick:
            extra_to.extend([p] * (target - int(counts[p])))
        ties.append({"rank": rank + 1 + 3 * (rank > 9), "citations": target, "papers": sorted(names)})
    extra_to_a = np.asarray(extra_to, dtype=np.int64)
    to = np.concatenate([to, extra_to_a])
    fr = np.concatenate([fr, rng.integers(0, n_papers, len(extra_to_a))])
    n_valid = len(to)

    id_arr = pa.array(ids, pa.string())
    lines = pc.binary_join_element_wise(id_arr.take(fr), id_arr.take(to), "\t")
    # 1 in 200 valid rows padded with spaces at either end (trimmed)
    pad = rng.random(n_valid) < 0.005
    lines = pc.if_else(pa.array(pad), pc.binary_join_element_wise("  ", lines, " ", ""), lines)

    # noise rows: blank, space-only, comment, and five malformed shapes
    n_noise = max(n_edges // 100, 20)
    a = id_arr.take(rng.integers(0, n_papers, n_noise)).to_pylist()
    b = id_arr.take(rng.integers(0, n_papers, n_noise)).to_pylist()
    kinds = rng.integers(0, 8, n_noise).tolist()
    noise = []
    for k, x, y in zip(kinds, a, b):
        noise.append(
            (
                "",
                "   ",
                f"# checkpoint {x}",
                x,
                f"{x}\t{y}\t{x}",
                f"\t{y}",
                f"{x}\t",
                f"{x} {y}",
            )[k]
        )
    body = pa.concat_arrays([lines, pa.array(noise, pa.string())])
    body = body.take(rng.permutation(len(body)))
    header = (
        "# Directed graph: citations.txt\n"
        "# Paper citation network, synthetic, in the shape of cit-HepTh\n"
        f"# Nodes: {n_papers} Edges: {n_valid}\n"
        "# FromNodeId\tToNodeId\n"
    )
    with open(path, "wb") as f:
        f.write(header.encode())
        step = 1 << 20
        for i in range(0, len(body), step):
            chunk = body.slice(i, step)
            joined = pc.binary_join(
                pa.ListArray.from_arrays(pa.array([0, len(chunk)], pa.int32()), chunk), "\n"
            )
            f.write(joined[0].as_py().encode())
            f.write(b"\n")
    return {"valid_rows": n_valid, "papers": n_papers, "ties": ties}


# ---------------------------------------------------------------------------
# lineitem key columns (order cites part)
# ---------------------------------------------------------------------------


def gen_graph(seed: int, sf: float, path: str) -> dict:
    rng = _rng(seed, 2)
    n_rows = round(6_000_000 * sf)
    orderkey = rng.integers(0, round(1_500_000 * sf), n_rows)
    partkey = rng.integers(0, round(200_000 * sf), n_rows)
    table = pa.table({"l_orderkey": orderkey, "l_partkey": partkey})
    pq.write_table(table, path, row_group_size=n_rows // 4 + 1)
    return {"rows": n_rows}


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

_GENERATORS = {
    "citations": (gen_citations, "citation_scale", "citations.txt"),
    "graph": (gen_graph, "graph_sf", "lineitem.parquet"),
}


def ensure_input(root: str, name: str, seed: int, size: str) -> tuple[str, dict]:
    """Path of input ``name`` for (seed, size), generating it on a
    cache miss, and the generator's facts about it."""
    fn, size_key, rel = _GENERATORS[name]
    d = os.path.join(root, f"v{GEN_VERSION}-{size}-seed{seed}", name)
    path = os.path.join(d, rel)
    facts_path = os.path.join(d, "facts.json")
    if os.path.exists(facts_path):
        with open(facts_path) as f:
            return path, json.load(f)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    facts = fn(seed, SIZES[size][size_key], path)
    tmp = facts_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(facts, f)
    os.replace(tmp, facts_path)
    return path, facts
