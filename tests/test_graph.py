"""Graph-operator tests: PageRank vs pure-python replays, plus
structural sanity for co-citation/coupling."""

from __future__ import annotations

from collections import defaultdict

import pytest


def _python_pagerank(edges, iterations=6, damping=0.85):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    out = defaultdict(set)
    for a, b in edges:
        out[a].add(b)
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        dangling = sum(r for v, r in ranks.items() if not out[v])
        base = (1 - damping) / n + damping * dangling / n
        new = {v: 0.0 for v in nodes}
        for a in nodes:
            if out[a]:
                share = ranks[a] / len(out[a])
                for b in out[a]:
                    new[b] += share
        ranks = {v: base + damping * new[v] for v in nodes}
    return ranks


def _python_pagerank_fp(edges, iterations=6):
    """Integer replay of ``pagerank_fixed_point``: the same floor
    divisions in the same order, dangling mass included."""
    from mapreduce_citation_spark.operators.graph import _FP_SCALE as S

    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    out = defaultdict(set)
    for a, b in edges:
        out[a].add(b)
    ranks = {v: S // n for v in nodes}
    for _ in range(iterations):
        dangling = sum(r for v, r in ranks.items() if not out[v])
        base = ((3 * S) // 20) // n + ((17 * dangling) // 20) // n
        contrib = {v: 0 for v in nodes}
        for a in nodes:
            for b in out[a]:
                contrib[b] += ranks[a] // len(out[a])
        ranks = {v: base + (17 * contrib[v]) // 20 for v in nodes}
    return ranks


# y and z cite nothing: their rank is dangling mass, spread to every node
_PR_EDGES = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"),
    ("e", "c"), ("c", "z"), ("a", "y"),
]


def _fp_ranks(spark, edges, iterations=6):
    from mapreduce_citation_spark.operators.graph import pagerank_fixed_point

    df = spark.createDataFrame(edges, ["from_paper", "to_paper"])
    rows = pagerank_fixed_point(df, iterations=iterations).collect()
    return {r["node"]: r["rank_q"] for r in rows}


def test_pagerank_matches_python_replay(spark):
    """``pagerank_fixed_point`` scaled back to floats stays within 1e-9
    of the float power iteration, dangling mass included."""
    from mapreduce_citation_spark.operators.graph import _FP_SCALE

    got = {v: q / _FP_SCALE for v, q in _fp_ranks(spark, _PR_EDGES).items()}
    want = _python_pagerank(_PR_EDGES, iterations=6)
    assert got.keys() == want.keys()
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9)
    # total mass conserved
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert max(got, key=got.get) == "c"  # the hub out-ranks everything


def test_pagerank_fixed_point_agrees_and_is_integer_exact(spark):
    """``pagerank_fixed_point`` equals the integer replay exactly (same
    floor divisions in the same order) and is bit-identical across
    repeated runs (integer sums are associative — no float drift)."""
    got = _fp_ranks(spark, _PR_EDGES)
    assert got == _python_pagerank_fp(_PR_EDGES, iterations=6)
    assert _fp_ranks(spark, _PR_EDGES) == got


def test_connected_components_vs_union_find(spark):
    from mapreduce_citation_spark.operators.graph import connected_components

    edges = [
        ("a", "b"), ("b", "c"),           # component {a,b,c} → label a
        ("d", "e"),                        # component {d,e} → label d
        ("f", "f"),                        # self-loop singleton
        ("g", "h"), ("i", "h"), ("i", "j"),  # chain {g,h,i,j} → label g
    ]
    df = spark.createDataFrame(edges, ["from_paper", "to_paper"])
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}

    # union-find oracle
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    # normalize: component id = min member in both
    comp_min = {}
    for v, r in want.items():
        comp_min.setdefault(r, v)
        comp_min[r] = min(comp_min[r], v)
    want = {v: comp_min[find(v)] for v in want}
    assert got == want
    assert len(set(got.values())) == 4


def test_star_components_match_union_find_and_label_prop(spark):
    """Large-star/small-star contraction must produce the exact
    labeling min-label propagation converges to — same union-find
    oracle and same fixture as the min-label test, including the
    self-loop-only singleton (which the star rounds drop from the
    pair set and the final node join must restore)."""
    from mapreduce_citation_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = [
        ("a", "b"), ("b", "c"),
        ("d", "e"),
        ("f", "f"),
        ("g", "h"), ("i", "h"), ("i", "j"),
    ]
    df = spark.createDataFrame(edges, ["from_paper", "to_paper"])
    star = {r["node"]: r["component"]
            for r in connected_components_star(df).collect()}
    label = {r["node"]: r["component"]
             for r in connected_components(df).collect()}
    assert star == label
    assert star["f"] == "f" and len(set(star.values())) == 4


def test_star_components_converge_on_long_path(spark):
    """The shape star contraction exists for: a 60-node path has
    diameter 59, so min-label propagation needs 59 rounds (its
    default cap is 20 — it would return a PARTIAL labeling), while
    star contraction must fully converge in O(log n) rounds within
    its default cap and label every node with the path's minimum."""
    from mapreduce_citation_spark.operators.graph import (
        connected_components_star,
    )

    ids = [f"n{i:03d}" for i in range(60)]  # zero-padded: lex == numeric
    edges = [(ids[i], ids[i + 1]) for i in range(59)]
    df = spark.createDataFrame(edges, ["from_paper", "to_paper"])
    got = {r["node"]: r["component"]
           for r in connected_components_star(df).collect()}
    assert got == {v: "n000" for v in ids}


def test_components_auto_dispatch(spark):
    """The r11 auto dispatcher (r10 verdict #6): on a shallow graph
    the bounded min-label probe converges and IS the answer (mode
    "min_label", no star rounds); on the 60-node path (diameter 59 —
    the r10 diameter-probe shape) the 4-round probe cannot converge,
    the switch fires (mode "star"), and the result is still the full
    correct labeling — identical to what star contraction alone
    produces."""
    from mapreduce_citation_spark.operators.graph import (
        connected_components_auto,
    )

    # shallow: the min-label fixture (diameter ≤ 3, converges in ≤ 4)
    shallow = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f"),
         ("g", "h"), ("i", "h"), ("i", "j")],
        ["from_paper", "to_paper"],
    )
    st: dict = {}
    got = {r["node"]: r["component"]
           for r in connected_components_auto(shallow, stats=st).collect()}
    assert st["mode"] == "min_label"
    assert st["probe_iterations"] <= 4
    assert got["f"] == "f" and len(set(got.values())) == 4

    # deep: 60-node path — probe caps out, star branch must fire and
    # still label every node with the path minimum
    ids = [f"n{i:03d}" for i in range(60)]  # zero-padded: lex == numeric
    deep = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(59)],
        ["from_paper", "to_paper"],
    )
    st2: dict = {}
    got2 = {r["node"]: r["component"]
            for r in connected_components_auto(deep, stats=st2).collect()}
    assert st2["mode"] == "star"
    assert st2["probe_iterations"] == 4  # the probe ran its full budget
    assert got2 == {v: "n000" for v in ids}


def test_cocitation_counts_on_fixture(spark, sf_dir):
    from mapreduce_citation_spark.operators.graph import citation_cocitation

    rows = citation_cocitation(spark, sf_dir).collect()
    assert rows and all(r["paper_a"] < r["paper_b"] for r in rows)
    assert all(r["n_cociting"] >= 1 for r in rows)


def test_coupling_symmetric_threshold(spark, sf_dir):
    from mapreduce_citation_spark.operators.graph import citation_coupling

    rows = citation_coupling(spark, sf_dir).collect()
    assert all(r["n_shared"] >= 3 and r["citer_a"] < r["citer_b"] for r in rows)


def test_pagerank_flagship_plan_has_no_listfold(spark):
    """r13 (r12 verdict #1): the registered ``citation_pagerank`` runs
    the fixed-point arithmetic — its per-iteration physical plan must
    contain NO collect_list (the float gate mode's per-key sorted fold
    buffered in-degree-many structs) and must aggregate via hash
    aggregation (associative BIGINT sum → map-side partials). The
    returned table is checkpoint-truncated, so the pin observes the
    pre-checkpoint iteration plans via ``plan_probe``."""
    from mapreduce_citation_spark.operators.graph import pagerank_fixed_point
    from mapreduce_citation_spark.plans import explain_str
    from mapreduce_citation_spark.registry import all_specs

    # the registered flagship must be wired to the fixed-point oracle
    # (rank derived from BIGINT units), not the retired float fold one
    spec = all_specs()["citation_pagerank"]
    assert "list_reduce(list_sort" not in spec.oracle
    assert "rank_q // o.out_deg" in spec.oracle

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "c")]
    df = spark.createDataFrame(edges, ["from_paper", "to_paper"])
    probe: list = []
    pagerank_fixed_point(df, iterations=2, plan_probe=probe).collect()
    assert len(probe) == 2
    for stepped in probe:
        plan = explain_str(stepped, "extended")
        assert "collect_list" not in plan
        assert "HashAggregate" in plan


def test_triangle_counts_on_planted_graph(spark):
    """Degree-oriented triangle counting on a hand-built graph whose
    truth is known: K4 (4 triangles, every node in 3), a 5-leaf star
    and a 3-path (triangle-free — their nodes must not appear), and a
    bowtie sharing one vertex (center in 2 triangles, wings in 1)."""
    from mapreduce_citation_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a, b in [("k1", "k2"), ("k1", "k3"), ("k1", "k4"),
                              ("k2", "k3"), ("k2", "k4"), ("k3", "k4")]]
    star = [("h0", f"l{i}") for i in range(1, 6)]
    path = [("p1", "p2"), ("p2", "p3")]
    bowtie = [("c", "w1"), ("c", "w2"), ("w1", "w2"),
              ("c", "x1"), ("c", "x2"), ("x1", "x2")]
    edges = [(min(u, v), max(u, v)) for u, v in k4 + star + path + bowtie]
    df = spark.createDataFrame(edges, ["u", "v"])
    got = {r["paper"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    expected = {"k1": 3, "k2": 3, "k3": 3, "k4": 3,
                "c": 2, "w1": 1, "w2": 1, "x1": 1, "x2": 1}
    assert got == expected
    # handshake invariant: corner-count total = 3 x triangle count (4+2)
    assert sum(got.values()) == 3 * 6


def test_kcore_peel_on_planted_graph(spark):
    """Peeling truth on a hand-built graph: K4 survives k=3 peeling
    intact (each node keeps degree 3); a pendant chain hung off K4
    and a free-standing triangle (degree ≤ 2 everywhere) all vanish
    in the FIRST round — simultaneous removal drops every sub-k node
    and its edges together, including K4's tail link."""
    from mapreduce_citation_spark.operators.graph import kcore_peel

    k4 = [("k1", "k2"), ("k1", "k3"), ("k1", "k4"),
          ("k2", "k3"), ("k2", "k4"), ("k3", "k4")]
    tail = [("k1", "t1"), ("t1", "t2"), ("t2", "t3")]
    tri = [("x1", "x2"), ("x1", "x3"), ("x2", "x3")]
    edges = [(min(u, v), max(u, v)) for u, v in k4 + tail + tri]
    df = spark.createDataFrame(edges, ["u", "v"])
    got = {r["paper"]: r["degree"] for r in kcore_peel(df, 3, 4).collect()}
    assert got == {"k1": 3, "k2": 3, "k3": 3, "k4": 3}
    # one round only: every chain node has degree <= 2, so the whole
    # tail AND the triangle vanish simultaneously in round 1 — k1's
    # tail edge goes with them (its endpoint died this round), leaving
    # exactly the K4
    got1 = {r["paper"]: r["degree"] for r in kcore_peel(df, 3, 1).collect()}
    assert got1 == {"k1": 3, "k2": 3, "k3": 3, "k4": 3}


def test_personalized_pagerank_localizes_to_seed_community(spark):
    """PPR semantics on a planted two-community graph (two triangles
    joined by one bridge edge): with both seeds in community A, every
    A-node outranks every B-node, mass is conserved approximately
    (quantization truncates), and a python integer replay matches
    bit-for-bit."""
    from mapreduce_citation_spark.operators.graph import (
        _FP_SCALE,
        pagerank_fixed_point,
    )

    A = [("a1", "a2"), ("a1", "a3"), ("a2", "a3")]
    B = [("b1", "b2"), ("b1", "b3"), ("b2", "b3")]
    bridge = [("a3", "b1")]
    edges = A + B + bridge
    und_rows = edges + [(v, u) for u, v in edges]
    und = spark.createDataFrame(und_rows, ["from_paper", "to_paper"])
    seeds = spark.createDataFrame([("a1",), ("a2",)], ["node"])
    got = {
        r["node"]: r["rank_q"]
        for r in pagerank_fixed_point(
            und, iterations=4, seeds=seeds, n_seeds=2
        ).collect()
    }

    # python integer replay
    out_deg: dict[str, int] = {}
    for u, _v in und_rows:
        out_deg[u] = out_deg.get(u, 0) + 1
    nodes = sorted(out_deg)
    seed_set = {"a1", "a2"}
    scale, d_num, d_den, k = _FP_SCALE, 17, 20, 2
    base_s = ((d_den - d_num) * scale // d_den) // k
    rank = {n: (scale // k if n in seed_set else 0) for n in nodes}
    for _ in range(4):
        contrib: dict[str, int] = {n: 0 for n in nodes}
        for u, v in und_rows:
            contrib[v] += rank[u] // out_deg[u]
        rank = {
            n: (base_s if n in seed_set else 0)
            + (d_num * contrib[n]) // d_den
            for n in nodes
        }
    assert got == rank
    assert min(got[n] for n in ("a1", "a2", "a3")) > max(
        got[n] for n in ("b1", "b2", "b3")
    )
    assert 0.9 * _FP_SCALE < sum(got.values()) <= _FP_SCALE


def test_link_prediction_matches_python_ra(spark):
    """RA link prediction on a hand-built bipartite graph vs an exact
    python replay of the fixed-point arithmetic: citers c1 (degree 2,
    weight SCALE//2) and c2 (degree 3, weight SCALE//3) both co-cite
    (A, B), so RA(A,B) accumulates both discounted weights; (A, C) and
    (B, C) share only c2 and fall under the >=2-common filter."""
    from mapreduce_citation_spark.operators.graph import (
        _RA_SCALE,
        resource_allocation_pairs,
    )

    edges = [
        ("c1", "A"), ("c1", "B"),
        ("c2", "A"), ("c2", "B"), ("c2", "C"),
        ("c3", "A"), ("c3", "B"),          # degree-2 citer of the same pair
        ("c4", "D"),                        # isolated citation
    ]
    e = spark.createDataFrame(edges, ["from_paper", "to_paper"])
    rows = resource_allocation_pairs(e).collect()
    got = {
        (r["paper_a"], r["paper_b"]): (r["n_common"], r["ra_score_fp"])
        for r in rows
    }
    expected_ab = 2 * (_RA_SCALE // 2) + _RA_SCALE // 3
    assert got == {("A", "B"): (3, expected_ab)}
    # deterministic ordering contract: score desc, then ids asc
    assert [r["paper_a"] for r in rows] == sorted(
        [r["paper_a"] for r in rows]
    )


def test_label_propagation_on_planted_communities(spark):
    """Deterministic sync LPA on two planted cliques joined by one
    bridge edge: after 4 rounds each clique carries exactly one
    community label (its min member — the tie-break winner in round
    1), the bridge does not merge them, and the result equals a
    python replay of the same simultaneous-update rule."""
    from collections import Counter

    from mapreduce_citation_spark.operators.graph import label_propagation

    clique_a = ["a1", "a2", "a3", "a4"]
    clique_b = ["b1", "b2", "b3", "b4"]
    edges = (
        [(u, v) for i, u in enumerate(clique_a) for v in clique_a[i + 1:]]
        + [(u, v) for i, u in enumerate(clique_b) for v in clique_b[i + 1:]]
        + [("a4", "b1")]
    )
    proj = spark.createDataFrame(edges, ["u", "v"])
    got = {r["paper"]: r["community"]
           for r in label_propagation(proj, rounds=4).collect()}

    # python replay: simultaneous update, max-count min-label vote
    nbrs = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    lbl = {n: n for n in nbrs}
    for _ in range(4):
        new = {}
        for n in nbrs:
            votes = Counter(lbl[m] for m in nbrs[n])
            top = max(votes.values())
            new[n] = min(l for l, c in votes.items() if c == top)
        lbl = new
    assert got == lbl
    assert len({got[n] for n in clique_a}) == 1
    assert len({got[n] for n in clique_b}) == 1
    assert {got[n] for n in clique_a} != {got[n] for n in clique_b}


def test_hits_on_planted_bipartite_graph(spark):
    """Integer HITS on a planted graph with known structure: a survey
    citer covering every paper must be the top hub, the paper cited
    by every citer the top authority; scores equal a python replay of
    the same fixed-point recursion."""
    from mapreduce_citation_spark.operators.graph import (
        _HITS_ROUNDS,
        _HITS_SCALE,
        hits_fixed_point,
    )

    # citers s (survey: cites all 4 papers), c1..c3 (one popular +
    # one niche paper each); papers p0 (cited by all), p1..p3
    edges = [("s", f"p{i}") for i in range(4)]
    edges += [(f"c{i}", "p0") for i in range(1, 4)]
    edges += [(f"c{i}", f"p{i}") for i in range(1, 4)]
    df = spark.createDataFrame(edges, ["from_paper", "to_paper"])
    rows = hits_fixed_point(df, rounds=_HITS_ROUNDS).collect()
    got = {(r["role"], r["paper"]): r["score_q"] for r in rows}

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    hubs = {c: _HITS_SCALE for c in {u for u, _ in edges}}
    auth = {}
    for _ in range(_HITS_ROUNDS):
        a_raw = {}
        for u, v in edges:
            a_raw[v] = a_raw.get(v, 0) + hubs[u]
        m = max(a_raw.values())
        auth = {v: tdiv(x * _HITS_SCALE, m) for v, x in a_raw.items()}
        h_raw = {}
        for u, v in edges:
            h_raw[u] = h_raw.get(u, 0) + auth[v]
        m = max(h_raw.values())
        hubs = {u: tdiv(x * _HITS_SCALE, m) for u, x in h_raw.items()}
    want = {("hub", u): s for u, s in hubs.items()}
    want |= {("authority", v): s for v, s in auth.items()}
    assert got == want
    assert max(hubs, key=hubs.get) == "s"
    assert max(auth, key=auth.get) == "p0"
    assert got[("hub", "s")] == _HITS_SCALE  # max-normalized
    assert got[("authority", "p0")] == _HITS_SCALE


def test_bfs_depths_on_planted_graph(spark):
    """Level-synchronous BFS on a hand-built graph with known
    distances: a path chain off a hub, a cycle, and an unreachable
    component (must be absent). Distances equal python BFS."""
    from collections import deque

    from mapreduce_citation_spark.operators.graph import bfs_depths

    edges = [
        ("h", "a"), ("h", "b"), ("a", "c"), ("c", "d"),  # chain to depth 3
        ("b", "a"),                                       # cycle h-a-b
        ("x", "y"),                                       # unreachable island
    ]
    proj = spark.createDataFrame(edges, ["u", "v"])
    seeds = spark.createDataFrame([("h",)], ["node"])
    got = {r["paper"]: r["dist"]
           for r in bfs_depths(proj, seeds, depth=3).collect()}

    nbrs = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    want, q = {"h": 0}, deque([("h", 0)])
    while q:
        n, d = q.popleft()
        if d == 3:
            continue
        for m in nbrs[n]:
            if m not in want:
                want[m] = d + 1
                q.append((m, d + 1))
    assert got == want
    assert "x" not in got and "y" not in got
    assert got == {"h": 0, "a": 1, "b": 1, "c": 2, "d": 3}


def test_random_walks_match_python_replay(spark):
    """citation_random_walks vs a full python replay of the hash-walk
    on sf0.001: identical (start, v1..v4) for every node, one walk
    per node of the undirected graph (walks never die: deg >= 1)."""
    import hashlib

    from mapreduce_citation_spark.operators.graph import (
        WALK_LEN,
        citation_random_walks,
    )

    sf_dir = "/root/testdata/sf0.001"
    edges = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr(
            "CAST(l_orderkey AS STRING) AS a", "CAST(l_partkey AS STRING) AS b"
        )
        .distinct()
        .collect()
    )
    adj: dict = {}
    for r in edges:
        adj.setdefault(r["a"], set()).add(r["b"])
        adj.setdefault(r["b"], set()).add(r["a"])
    nbrs = {k: sorted(v) for k, v in adj.items()}

    def pick(start, cur, step):
        h = int(
            hashlib.md5(f"{start}|{cur}|{step}".encode()).hexdigest()[:15], 16
        )
        ns = nbrs[cur]
        return ns[h % len(ns)]

    expected = {}
    for s in nbrs:
        cur, path = s, []
        for k in range(1, WALK_LEN + 1):
            cur = pick(s, cur, k)
            path.append(cur)
        expected[s] = tuple(path)
    got = {
        r["start"]: tuple(r[f"v{k}"] for k in range(1, WALK_LEN + 1))
        for r in citation_random_walks(spark, sf_dir).collect()
    }
    assert got == expected
    assert len(got) == len(nbrs)


def test_walk_skipgrams_match_python_replay(spark):
    """citation_walk_skipgrams vs a python replay: walks replayed with
    the same md5 hash-walk, the fixed 14-index-pair window applied,
    counts rolled up, top-100 under the deterministic tie-break."""
    import hashlib
    from collections import Counter

    from mapreduce_citation_spark.operators.graph import (
        _SKIPGRAM_IDX,
        WALK_LEN,
        citation_walk_skipgrams,
    )

    sf_dir = "/root/testdata/sf0.001"
    edges = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr(
            "CAST(l_orderkey AS STRING) AS a", "CAST(l_partkey AS STRING) AS b"
        )
        .distinct()
        .collect()
    )
    adj: dict = {}
    for r in edges:
        adj.setdefault(r["a"], set()).add(r["b"])
        adj.setdefault(r["b"], set()).add(r["a"])
    nbrs = {k: sorted(v) for k, v in adj.items()}

    def pick(start, cur, step):
        h = int(
            hashlib.md5(f"{start}|{cur}|{step}".encode()).hexdigest()[:15], 16
        )
        ns = nbrs[cur]
        return ns[h % len(ns)]

    cnt: Counter = Counter()
    for s in nbrs:
        walk = [s]
        for k in range(1, WALK_LEN + 1):
            walk.append(pick(s, walk[-1], k))
        for i, j in _SKIPGRAM_IDX:
            cnt[(walk[i], walk[j])] += 1
    expected = sorted(
        ((n, c[0], c[1]) for c, n in cnt.items()),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:100]
    got = [
        (r["n_pairs"], r["center"], r["context"])
        for r in citation_walk_skipgrams(spark, sf_dir).collect()
    ]
    assert got == expected


def _python_scc(edges):
    """Exact SCCs via Kosaraju (two DFS passes) — the fixture-free
    definition the Spark refinement must reproduce."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    fadj, radj = defaultdict(list), defaultdict(list)
    for a, b in edges:
        fadj[a].append(b)
        radj[b].append(a)
    order, seen = [], set()
    for s in nodes:
        if s in seen:
            continue
        stack = [(s, iter(fadj[s]))]
        seen.add(s)
        while stack:
            v, it = stack[-1]
            nxt = next((w for w in it if w not in seen), None)
            if nxt is None:
                order.append(v)
                stack.pop()
            else:
                seen.add(nxt)
                stack.append((nxt, iter(fadj[nxt])))
    comp = {}
    for s in reversed(order):
        if s in comp:
            continue
        stack, members = [s], []
        comp[s] = s
        while stack:
            v = stack.pop()
            members.append(v)
            for w in radj[v]:
                if w not in comp:
                    comp[w] = s
                    stack.append(w)
        m = min(members)
        for v in members:
            comp[v] = m
    return comp


def _scc_groups(labels):
    groups = defaultdict(frozenset)
    by_id = defaultdict(set)
    for node, scc in labels.items():
        by_id[scc].add(node)
    return {frozenset(m) for m in by_id.values()}


def test_scc_planted_shapes(spark):
    """r11 verdict #4 acceptance: a 2-cycle and a DAG chain get
    DIFFERENT SCCs — plus a 3-cycle with a tail, a self-loop, and the
    diamond (1→5, 1→6, 5→2, 6→2) where the single-pass (fwd, bwd)
    pair heuristic would wrongly fuse {5, 6, 2}; the iterated
    refinement must split it back to singletons."""
    from mapreduce_citation_spark.operators.graph import (
        strongly_connected_components,
    )

    edges = [
        ("a", "b"), ("b", "a"),                      # 2-cycle {a,b}
        ("c", "d"), ("d", "e"),                      # DAG chain: singletons
        ("p", "q"), ("q", "r"), ("r", "p"), ("r", "s"),  # 3-cycle + tail s
        ("x", "x"),                                  # self-loop singleton
        ("1", "5"), ("1", "6"), ("5", "2"), ("6", "2"),  # the diamond
    ]
    df = spark.createDataFrame(edges, ["from_paper", "to_paper"])
    stats: dict = {}
    got = {
        r["node"]: r["scc_id"]
        for r in strongly_connected_components(df, stats=stats).collect()
    }
    want = _python_scc(edges)
    assert stats["converged"] is True
    assert got.keys() == want.keys()
    assert _scc_groups(got) == _scc_groups(want)
    # scc_id is the component's min node, so labels match exactly
    assert got == want
    # the named acceptance shapes, spelled out
    assert got["a"] == got["b"] == "a"          # 2-cycle: one SCC
    assert len({got["c"], got["d"], got["e"]}) == 3  # chain: three SCCs
    assert got["p"] == got["q"] == got["r"] == "p" and got["s"] == "s"
    assert len({got["1"], got["5"], got["6"], got["2"]}) == 4  # diamond split


def test_scc_delimiter_ids_no_collision(spark):
    """r12 ADVICE: refinement class labels are a length-prefixed pair
    encoding, injective for arbitrary id strings. Node ids laden with
    the old '|' delimiter (the ('a','a|a|a') vs ('a|a','a|a')
    collision family) and with ':' must still partition exactly as
    the Kosaraju replay says."""
    from mapreduce_citation_spark.operators.graph import (
        strongly_connected_components,
    )

    edges = [
        # 2-cycle between pipe-laden ids, plus chains whose fwd/bwd
        # pairs are concatenations of each other under a naive join
        ("a", "a|a"), ("a|a", "a"),
        ("a", "a|a|a"), ("a|a|a", "z"),
        ("1:", ":1"), (":1", "1:"),        # colon-laden 2-cycle
        ("|", "||"), ("||", "|||"),        # pure-delimiter chain
    ]
    df = spark.createDataFrame(edges, ["from_paper", "to_paper"])
    stats: dict = {}
    got = {
        r["node"]: r["scc_id"]
        for r in strongly_connected_components(df, stats=stats).collect()
    }
    want = _python_scc(edges)
    assert stats["converged"] is True
    assert got == want
    assert _scc_groups(got) == _scc_groups(want)


def test_scc_inner_cap_escalates_and_reports(spark):
    """r12 ADVICE: the inner min-label budget must not bind silently.
    On a 30-node directed path (propagation depth 29): a budget of 4
    escalates (4×8=32 ≥ 29) and still converges, reporting
    cap_extended; a budget of 2 exhausts even the escalated cap
    (16 < 29), so stats must say converged=False and a RuntimeWarning
    must fire — never a silent wrong partition."""
    import warnings

    from mapreduce_citation_spark.operators.graph import (
        strongly_connected_components,
    )

    edges = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(29)]
    df = spark.createDataFrame(edges, ["from_paper", "to_paper"])
    want = _python_scc(edges)  # a path: all singletons

    stats: dict = {}
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # escalated-but-converged: no warning
        got = {
            r["node"]: r["scc_id"]
            for r in strongly_connected_components(
                df, inner_rounds=4, stats=stats
            ).collect()
        }
    assert got == want
    assert stats["converged"] is True
    assert stats["inner_cap_extended"] is True
    assert stats["inner_converged"] is True

    stats2: dict = {}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        strongly_connected_components(
            df, inner_rounds=2, stats=stats2
        ).collect()
    assert stats2["inner_converged"] is False
    assert stats2["converged"] is False
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "fixpoint" in str(w.message)
        for w in caught
    )


def test_condensation_layers_on_planted_dag(spark):
    """Longest-path layering on a planted condensation: a 2-cycle
    {a,b} feeding a 3-cycle {p,q,r} feeding singleton z gives layers
    0/1/2; a diamond s→m→t, s→t must put t at layer 2 (LONGEST path,
    not shortest); an isolated 2-cycle {x,y} stays a source at 0."""
    from mapreduce_citation_spark.operators.graph import condensation_layers

    edges = [
        ("a", "b"), ("b", "a"), ("a", "p"),
        ("p", "q"), ("q", "r"), ("r", "p"), ("r", "z"),
        ("s", "m"), ("m", "t"), ("s", "t"),
        ("x", "y"), ("y", "x"),
    ]
    df = spark.createDataFrame(edges, ["from_paper", "to_paper"])
    stats: dict = {}
    got = {
        r["scc_id"]: r["layer"]
        for r in condensation_layers(df, stats=stats).collect()
    }
    assert stats["converged"] is True
    assert got == {"a": 0, "p": 1, "z": 2, "s": 0, "m": 1, "t": 2, "x": 0}


def test_scc_matches_kosaraju_on_random_graph(spark):
    """Adversarial density sweep: a deterministic pseudo-random digraph
    (hash-derived edges, no RNG state) with nested cycles must match
    the Kosaraju replay exactly — groups AND min-node labels."""
    import hashlib

    from mapreduce_citation_spark.operators.graph import (
        strongly_connected_components,
    )

    nodes = [f"n{i:02d}" for i in range(40)]
    edges = []
    for i, a in enumerate(nodes):
        for j, b in enumerate(nodes):
            if i == j:
                continue
            h = hashlib.md5(f"{a}->{b}".encode()).hexdigest()
            if int(h[:4], 16) % 19 == 0:  # ~5% density
                edges.append((a, b))
    df = spark.createDataFrame(edges, ["from_paper", "to_paper"])
    got = {
        r["node"]: r["scc_id"]
        for r in strongly_connected_components(df).collect()
    }
    want = _python_scc(edges)
    assert got == want


def test_scc_condensation_on_planted_graph(spark):
    """Condensation composition: cross-SCC edge bundles counted at
    SCC grain, intra-SCC edges dropped — replayed against Kosaraju
    labels on a planted graph with a 2-cycle feeding a 3-cycle."""
    edges = [
        ("a", "b"), ("b", "a"),                      # SCC {a,b}
        ("a", "p"), ("b", "p"),                      # 2 edges into {p,q,r}
        ("p", "q"), ("q", "r"), ("r", "p"),          # SCC {p,q,r}
        ("r", "z"),                                  # 1 edge to singleton
    ]
    from mapreduce_citation_spark.operators.graph import (
        strongly_connected_components,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(edges, ["from_paper", "to_paper"])
    labels = strongly_connected_components(df)
    la = labels.select(
        F.col("node").alias("from_paper"), F.col("scc_id").alias("scc_a")
    )
    lb = labels.select(
        F.col("node").alias("to_paper"), F.col("scc_id").alias("scc_b")
    )
    got = {
        (r["scc_a"], r["scc_b"]): r["n_edges"]
        for r in df.join(la, "from_paper").join(lb, "to_paper")
        .filter(F.col("scc_a") != F.col("scc_b"))
        .groupBy("scc_a", "scc_b")
        .agg(F.count(F.lit(1)).alias("n_edges"))
        .collect()
    }
    want = _python_scc(edges)
    assert want["a"] == want["b"] == "a" and want["p"] == "p"
    assert got == {("a", "p"): 2, ("p", "z"): 1}
