"""Citation-graph analytics beyond in-degree — the natural extensions
of the reference's domain (SURVEY.md: the reference computes only
op #11's citation counts).

Graph here: the lineitem-derived bipartite citation graph — each order
"cites" the parts it contains (richer than the orders→customer edge
list used for the flagship query: one citer cites many papers, so
co-citation is non-trivial).

- co-citation: papers cited together by the same citer (the classic
  similarity signal for cited papers).
- bibliographic coupling: citers sharing cited papers.
- PageRank: DataFrame-iterative power method — each iteration is one
  join + one aggregation, both shuffling on node id; lineage stays
  linear in iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.readers import load_table

_EDGES_CTE = """
WITH edges AS (
  SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS from_paper,
                  CAST(l_partkey AS VARCHAR) AS to_paper
  FROM lineitem
)
"""


def edges_from_lineitem(li: DataFrame) -> DataFrame:
    """Bipartite citation edges: order cites part (distinct pairs —
    a line-item repeat is not a second citation)."""
    return li.select(
        F.col("l_orderkey").cast("string").alias("from_paper"),
        F.col("l_partkey").cast("string").alias("to_paper"),
    ).distinct()


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cached: every caller self-joins or iterates over the edge list,
    # and the distinct-pairs derivation (a lineitem scan + a shuffle)
    # must not replay once per join side / per iteration. This is a
    # CORPUS-SIZED reuse table, so the r6-measured cache rule applies
    # (see cache.py; r12 verdict #3 — was localCheckpoint). A lazy
    # query function cannot unpersist its own result's inputs; the
    # bench/correctness harnesses clear the SQL cache registry between
    # queries (CLAUDE.md r9 isolation rule).
    from ..cache import cache_corpus

    return cache_corpus(
        edges_from_lineitem(load_table(spark, sf_dir, "lineitem"))
    )


@register(
    "citation_cocitation",
    oracle=_EDGES_CTE
    + """
SELECT a.to_paper AS paper_a, b.to_paper AS paper_b, COUNT(*) AS n_cociting
FROM edges a JOIN edges b
  ON a.from_paper = b.from_paper AND a.to_paper < b.to_paper
GROUP BY a.to_paper, b.to_paper
ORDER BY n_cociting DESC, paper_a ASC, paper_b ASC
LIMIT 20
""",
    tags=("graph", "citation", "cocitation"),
)
def citation_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-cited paper pairs: self-join on the citer, count
    co-occurrences — pairs materialize per-citer (bounded by the max
    citation list length), never globally."""
    e = _edges(spark, sf_dir)
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, (F.col("a.from_paper") == F.col("b.from_paper"))
               & (F.col("a.to_paper") < F.col("b.to_paper")))
        .groupBy(
            F.col("a.to_paper").alias("paper_a"),
            F.col("b.to_paper").alias("paper_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_cociting"))
        .orderBy(
            F.col("n_cociting").desc(), F.col("paper_a").asc(), F.col("paper_b").asc()
        )
        .limit(20)
    )


@register(
    "citation_coupling",
    oracle=_EDGES_CTE
    + """
SELECT a.from_paper AS citer_a, b.from_paper AS citer_b, COUNT(*) AS n_shared
FROM edges a JOIN edges b
  ON a.to_paper = b.to_paper AND a.from_paper < b.from_paper
GROUP BY a.from_paper, b.from_paper
HAVING COUNT(*) >= 3
ORDER BY n_shared DESC, citer_a ASC, citer_b ASC
LIMIT 20
""",
    tags=("graph", "citation", "coupling"),
)
def citation_coupling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bibliographically-coupled citer pairs (≥3 shared
    references): self-join on the cited paper."""
    e = _edges(spark, sf_dir)
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, (F.col("a.to_paper") == F.col("b.to_paper"))
               & (F.col("a.from_paper") < F.col("b.from_paper")))
        .groupBy(
            F.col("a.from_paper").alias("citer_a"),
            F.col("b.from_paper").alias("citer_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .orderBy(F.col("n_shared").desc(), F.col("citer_a").asc(), F.col("citer_b").asc())
        .limit(20)
    )


def _fixpoint(
    edges: DataFrame, labels: DataFrame, cap: int, longest: bool = False
) -> tuple[DataFrame, int, bool]:
    """Monotone label propagation along ``edges`` to its fixpoint, at
    most ``cap`` rounds — the one loop behind connected components,
    both SCC passes and condensation layering.

    ``edges`` is a loop-invariant (src, dst) table the caller has laid
    out once and persisted (MEMORY_AND_DISK, columnar, evictable — the
    r6 cache rule). The cached relation keeps its outputPartitioning
    and ordering, so when it is repartitioned + sorted on ``src`` (the
    min-label callers) each round's sort-merge join exchanges/sorts
    only the label table. ``labels`` is a
    (key, value) table. Each round every key takes the min of its
    value and its in-neighbours' values — or, ``longest``, the max of
    its value and 1 + theirs (longest-path relaxation). Both folds are
    monotone, so a key changed iff a neighbour's candidate beat it:
    the changed flag rides the step itself and is counted from the
    checkpointed rows — no extra old×new join per round. Lineage is
    broken every round (localCheckpoint on the label table only).

    Returns ``(labels, iterations, converged)``: iterations counts the
    rounds run (the converging round re-derives an unchanged table);
    converged=False means the cap hit first and the labeling may be
    partial."""
    key, val = labels.columns
    if longest:
        agg, fold = F.max(val) + F.lit(1), F.greatest
    else:
        agg, fold = F.min(val), F.least
    labels = labels.localCheckpoint()
    for it in range(1, cap + 1):
        best = (
            edges.join(labels, edges.src == labels[key])
            .groupBy(F.col("dst").alias(key))
            .agg(agg.alias("_best"))
        )
        cand = F.coalesce("_best", F.col(val))
        stepped = (
            labels.join(best, key, "left")
            .select(
                key,
                fold(val, cand).alias(val),
                (cand > F.col(val) if longest else cand < F.col(val)).alias(
                    "_changed"
                ),
            )
            .localCheckpoint()
        )
        changed = stepped.filter(F.col("_changed")).count()
        labels = stepped.drop("_changed")
        if changed == 0:
            return labels, it, True
    return labels, cap, False


def connected_components(
    edges: DataFrame, max_iterations: int = 20, stats: dict | None = None
) -> DataFrame:
    """Connected components by min-label propagation to fixpoint.

    Each node starts labeled with itself; every iteration each node
    takes the min label among itself and its neighbors (edges treated
    undirected); stop when no label changes. Returns (node, component)
    where component is the smallest node label in the component.

    The undirected edge list is the loop's corpus-sized invariant and
    is probed on its label-source side every iteration, so it pays its
    shuffle ONCE — the layout and the inline fixpoint check are
    :func:`_fixpoint`'s. ``stats`` (optional) records ``iterations``
    (rounds RUN) and ``converged`` (False: the cap hit first and the
    labeling may be partial — the signal the auto dispatcher keys on)."""
    und = (
        edges.select(F.col("to_paper").alias("src"), F.col("from_paper").alias("dst"))
        .union(edges.select("from_paper", "to_paper"))
        .distinct()
        .repartition(F.col("src"))
        .sortWithinPartitions("src")
        .persist()
    )
    labels, iterations, converged = _fixpoint(
        und,
        und.select(F.col("dst").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component")),
        max_iterations,
    )
    und.unpersist()
    if stats is not None:
        stats["iterations"] = iterations
        stats["converged"] = converged
    return labels


def _component_sizes(labels: DataFrame, key: str = "component") -> DataFrame:
    """The top-20 component-size report: members per label, largest
    first, ties by label."""
    return (
        labels.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy(F.col("n_nodes").desc(), F.col(key).asc())
        .limit(20)
    )


def _components_oracle(iters: int = 20) -> str:
    """Iteration-unrolled DuckDB mirror of :func:`connected_components`:
    ``iters`` chained CTE stages, each computing exactly one Spark
    iteration (``least(component, coalesce(min(neighbor component),
    component))``).

    Unrolling — not a recursive CTE — because (a) standard SQL forbids
    the per-iteration MIN aggregate in a recursive term and (b) the
    pair-closure alternative materializes O(|component|²) rows, which
    explodes on this graph's giant component. Min-label propagation is
    monotone and idempotent at fixpoint, so running all ``iters``
    stages equals Spark's early-stopped result whenever Spark
    converges within its own ``max_iterations`` (both default 20; if
    neither converges the per-iteration mirror still matches).
    ``MATERIALIZED`` pins each stage — l{k} is referenced twice by
    l{k+1}, and inlining would blow up exponentially."""
    stages = []
    for k in range(1, iters + 1):
        stages.append(f"""
l{k} AS MATERIALIZED (
  SELECT p.node,
         LEAST(p.component, COALESCE(MIN(q.component), p.component)) AS component
  FROM l{k - 1} p
  LEFT JOIN und e ON e.a = p.node
  LEFT JOIN l{k - 1} q ON q.node = e.b
  GROUP BY p.node, p.component
)""")
    return (
        _EDGES_CTE
        + """,
und AS MATERIALIZED (
  SELECT from_paper AS a, to_paper AS b FROM edges
  UNION
  SELECT to_paper, from_paper FROM edges
),
l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS component FROM und),"""
        + ",".join(stages)
        + f"""
SELECT component, COUNT(*) AS n_nodes
FROM l{iters}
GROUP BY component
ORDER BY n_nodes DESC, component ASC
LIMIT 20
"""
    )


@register(
    "citation_components",
    oracle=_components_oracle(20),
    tags=("graph", "components", "iterative"),
)
def citation_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component sizes of the bipartite citation graph
    (top-20 components). The DuckDB oracle unrolls the same min-label
    propagation (see ``_components_oracle``) so the driver gate is a
    hard hash match; pytest additionally replays with a union-find
    oracle."""
    return _component_sizes(connected_components(_edges(spark, sf_dir)))


def connected_components_star(
    edges: DataFrame, max_rounds: int = 25, stats: dict | None = None
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014) — the O(log n)-round alternative to
    min-label propagation's O(diameter) loop, the trade the r9
    verdict asked to be considered for 100 TB graphs:

    - min-label (:func:`connected_components`) keeps the edge list
      LOOP-INVARIANT — cached partitioned once, never rewritten — but
      runs one round per unit of graph diameter. Right when diameter
      is small (co-citation/social graphs) or the edge table dwarfs
      memory.
    - star contraction REWRITES the edge table every round (each
      round's output is a new child→parent pair set, so there is no
      loop-invariant side to cache — rounds pay edge-sized shuffles
      and a per-round lineage break), but converges in O(log n)
      rounds regardless of diameter. Right when the graph is
      long-stringy (diameter ≫ log n), where the label loop's round
      count — not its per-round cost — is the bottleneck.

    Per round: large-star points every node v that is LARGER than a
    neighbor u at the minimum m of Γ(u) ∪ {u} (emit (v, m) for
    v ∈ Γ(u), v > u over the symmetric neighborhood); small-star
    orients pairs large→small and points each node's smaller
    neighborhood (plus itself) at its minimum. Both halves emit
    child→parent pairs with parent < child, so from round one the
    pair set is canonical and the fixpoint test is plain set
    equality. At the fixpoint the pairs form star forests whose
    centers are exactly the component minima — the same (node,
    component) labeling min-label converges to. Raises on
    non-convergence within ``max_rounds`` (a partially contracted
    forest is NOT a valid labeling, unlike min-label's monotone
    intermediate states, so a silent cap would return wrong
    answers)."""
    pairs = edges.select(
        F.col("from_paper").alias("a"), F.col("to_paper").alias("b")
    )
    # full node set up front: star rounds run on proper pairs only
    # (self-loops carry no connectivity), but a node whose ONLY edge
    # is a self-loop must still come back as its own singleton
    # component — the final left join restores it
    nodes = (
        pairs.select(F.col("a").alias("node"))
        .union(pairs.select("b"))
        .distinct()
        .localCheckpoint()
    )
    cur = (
        pairs.filter(F.col("a") != F.col("b")).distinct().localCheckpoint()
    )
    for rnd in range(max_rounds):
        # large-star over the symmetric neighborhood view
        sym = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            cur.select(F.col("b"), F.col("a"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # small-star over the large→small orientation: every smaller
        # neighbor is ≤ u, so min(N ∪ {u}) = min(N)
        directed = large.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        smins = directed.groupBy("u").agg(F.min("v").alias("m"))
        nxt = (
            directed.join(smins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(smins.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .distinct()
            .localCheckpoint()
        )
        same = nxt.count() == cur.count() and nxt.join(
            cur, ["a", "b"], "left_anti"
        ).isEmpty()
        cur = nxt
        if same:
            if stats is not None:
                # rounds to reach the fixpoint (the detecting round
                # re-derived an unchanged pair set)
                stats["rounds"] = rnd + 1
            stars = cur.select(
                F.col("a").alias("node"), F.col("b").alias("component")
            )
            return nodes.join(stars, "node", "left").select(
                "node", F.coalesce("component", F.col("node")).alias("component")
            )
    raise RuntimeError(
        f"star contraction did not converge within {max_rounds} rounds"
    )


@register(
    "citation_components_star",
    oracle=_components_oracle(20),
    tags=("graph", "components", "iterative", "star-contraction"),
)
def citation_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component sizes via large-star/small-star contraction
    (:func:`connected_components_star`) — same top-20 report and same
    unrolled min-label DuckDB oracle as ``citation_components``: both
    algorithms converge to the identical (node, min-label-of-component)
    fixpoint on this graph, so the hash gate pins algorithm-level
    agreement, and pytest separately pins the star path against a
    union-find replay on a long-path graph where 20 min-label rounds
    would NOT converge (the shape star contraction exists for)."""
    return _component_sizes(connected_components_star(_edges(spark, sf_dir)))


#: Auto-dispatch probe budget: min-label rounds tried before declaring
#: the graph "deep" and switching to star contraction. 4 covers the
#: small-diameter co-citation/social shapes min-label wins on
#: (PROBE_STAR_DIAMETER_r10: the sf0.1 citation graph converges in 3
#: rounds) while capping the worst case at 4 node-sized-label rounds
#: against a cached invariant edge layout — cheap relative to even one
#: star round's edge rewrite.
COMPONENTS_PROBE_ROUNDS = 4


def connected_components_auto(
    edges: DataFrame, stats: dict | None = None
) -> DataFrame:
    """Connected components with the r10-measured decision rule
    ENCODED (r10 verdict #6 — it previously lived only in SCALE.md
    prose + PROBE_STAR_DIAMETER_r10.json):

    - min-label propagation (:func:`connected_components`) pays one
      round per unit of graph diameter but keeps the edge table
      loop-invariant — cached/partitioned once, iterations exchange
      only the node-sized label table. Wins when diameter is small.
    - star contraction (:func:`connected_components_star`) converges
      in O(log n) rounds regardless of diameter but rewrites the
      edge-sized pair table every round. Wins when diameter ≫ log n.

    Diameter is unknown up front (computing it costs a BFS — as much
    as the job itself), so dispatch is a BOUNDED PROBE: run min-label
    for at most ``COMPONENTS_PROBE_ROUNDS`` rounds; if it reaches its
    fixpoint the labels are final — return them (small-diameter case,
    probe IS the answer, nothing wasted). If the cap hits first, the
    graph is deep: discard the partial labels (a non-converged
    min-label table is not a valid labeling) and run star contraction.
    Worst case wastes the probe's cheap label rounds; in exchange the
    common shallow case never pays star's per-round edge rewrites.

    ``stats`` (optional) records ``mode`` ("min_label" | "star") and
    the probe's round count — how the dispatch pytest observes which
    branch fired."""
    probe: dict = {}
    labels = connected_components(
        edges, max_iterations=COMPONENTS_PROBE_ROUNDS, stats=probe
    )
    if stats is not None:
        stats["mode"] = "min_label" if probe["converged"] else "star"
        stats["probe_iterations"] = probe["iterations"]
    if probe["converged"]:
        return labels
    return connected_components_star(edges, stats=stats)


@register(
    "citation_components_auto",
    oracle=_components_oracle(20),
    tags=("graph", "components", "iterative", "auto-dispatch"),
)
def citation_components_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component sizes via the auto dispatcher
    (:func:`connected_components_auto`) — same top-20 report and same
    unrolled min-label oracle as both parents (whichever branch fires
    converges to the identical (node, component-min) fixpoint, so the
    hash gate pins the dispatcher's correctness on either path). On
    the citation fixture the probe converges within its 4-round budget
    and min-label serves the result; the long-path dispatch to star is
    pinned by pytest on the 60-node path the r10 diameter probe
    measured."""
    return _component_sizes(connected_components_auto(_edges(spark, sf_dir)))


#: SCC iteration budget. Outer rounds = FW-BW partition-refinement
#: passes (each splits every class by its (fwd-min, bwd-min) pair);
#: inner rounds = min-label propagation cap per direction per pass.
#: Both caps are mirrored EXACTLY in the unrolled DuckDB oracle, and
#: both loops are idempotent at their fixpoints, so early stopping on
#: the Spark side can never desync the hash gate (same argument as
#: ``_components_oracle``). Budgets sized from an exact replay on the
#: sf0.01 graph (Tarjan + a Python refinement simulation): convergence
#: takes 5 outer rounds (4 productive + 1 confirming) with inner
#: propagation depth 11 — the graph has a REAL giant SCC (1892 nodes:
#: the orderkey∩partkey both-role subgraph is strongly connected) plus
#: 12.9k singletons, so refinement genuinely has to carve 54 stragglers
#: off the giant class in rounds 3-4. One round of margin on each cap;
#: early stopping keeps the Spark side at the actual need.
SCC_OUTER_ROUNDS = 6
SCC_INNER_ROUNDS = 13


#: When a propagation's mirrored round budget is exhausted short of
#: the fixpoint, the Spark side keeps going up to budget × this factor
#: (correctness beats oracle parity — the cap binding at all means the
#: sf0.01-sized budget undershot the graph's diameter).
SCC_INNER_ESCALATION = 8


def _escalating_fixpoint(
    edges: DataFrame,
    labels: DataFrame,
    budget: int,
    what: str,
    risk: str,
    longest: bool = False,
) -> tuple[DataFrame, int, bool]:
    """:func:`_fixpoint` under a round budget mirrored in an unrolled
    oracle — a budget that can no longer bind SILENTLY (r13 ADVICE).

    If ``budget`` is exhausted before the fixpoint, propagation
    ESCALATES — continues up to ``budget × SCC_INNER_ESCALATION`` —
    and the caller reports it (``iterations > budget`` is its
    ``cap_extended``); if even that cap binds, a RuntimeWarning names
    ``what`` did not converge and the ``risk`` it carries. A truncated
    table short of its fixpoint is not a valid labeling: under FW-BW
    refinement it would split an SCC across classes irreversibly while
    the outer loop still stabilized (refinement only splits, never
    re-merges)."""
    hard_cap = budget * SCC_INNER_ESCALATION
    labels, iterations, converged = _fixpoint(edges, labels, hard_cap, longest)
    if not converged:
        import warnings

        warnings.warn(
            f"{what} did not reach its fixpoint within {hard_cap} rounds "
            f"(budget {budget} × escalation {SCC_INNER_ESCALATION}); {risk}",
            RuntimeWarning,
            stacklevel=3,
        )
    return labels, iterations, converged


def strongly_connected_components(
    edges: DataFrame,
    outer_rounds: int = SCC_OUTER_ROUNDS,
    inner_rounds: int = SCC_INNER_ROUNDS,
    stats: dict | None = None,
) -> DataFrame:
    """STRONGLY connected components of the DIRECTED citation graph by
    data-parallel forward-backward partition refinement (the
    Fleischer/Hendrickson/Pinar divide-and-conquer made iterative, as
    in Orzan-style coloring): maintain a class label per node (all one
    class initially); each outer round restricts edges to endpoints in
    the SAME class, propagates min-labels FORWARD (``fwd(v)`` = min
    in-class ancestor) and BACKWARD on reversed edges (``bwd(v)`` =
    min in-class descendant), then refines every class by the
    (fwd, bwd) pair. Nodes of one SCC always share the pair (strong
    connectivity makes both propagations reach the whole SCC within
    the class), so classes stay unions of SCCs; nodes that merely
    share ancestors/descendants — the diamond 1→5, 1→6, 5→2, 6→2,
    where the single-pass (fwd, bwd) pair heuristic would wrongly fuse
    {5, 6, 2} — get split in the next round (pytest-pinned). At the
    fixpoint every class IS an SCC and ``fwd = bwd`` = its min node =
    the scc_id. A refinement label is the LENGTH-PREFIXED pair
    encoding ``len(fwd) || ':' || fwd || bwd`` — injective for
    arbitrary node-id strings (r12 ADVICE: a bare ``fwd|bwd`` join
    collides when ids themselves contain the delimiter), and a node's
    fwd/bwd labels are members of its own class, so labels from
    different classes can never transiently merge either.

    Scale shape: the two propagation loops ride loop-invariant
    class-restricted edge layouts (repartitioned + sorted on the probe
    key, persisted per outer round, columnar/evictable), so each inner
    round exchanges only the node-sized label table; refinement and
    the convergence check are node-sized joins. Nothing enumerates
    reachability pairs — the memory-safe property that makes this the
    100 TB formulation (transitive closure is O(n²) on this graph's
    giant weak component). Both round caps are mirrored in the
    unrolled oracle; see ``SCC_OUTER_ROUNDS``. r13 (ADVICE): the inner
    cap can no longer bind silently — propagation escalates past an
    exhausted budget (``SCC_INNER_ESCALATION``) and ``stats`` reports
    ``inner_cap_extended`` / ``inner_converged``; ``converged`` is
    True only when outer stability was certified by fully-converged
    inner propagations. Escalation can outrun the oracle's fixed
    unroll, but only on an input where the truncated budget was
    producing a WRONG partition — and the gate only ever replays
    sf0.01, whose depth-11 need sits inside the budget."""
    e = edges.select(
        F.col("from_paper").alias("src"), F.col("to_paper").alias("dst")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
        .localCheckpoint()
    )
    p = nodes.select("node", F.lit("*").alias("cls"))
    converged = False
    rounds = 0
    inner_extended = False
    inner_converged = True
    for _ in range(outer_rounds):
        rounds += 1
        same_cls = (
            e.join(
                p.select(F.col("node").alias("src"), F.col("cls").alias("cs")),
                "src",
            )
            .join(
                p.select(F.col("node").alias("dst"), F.col("cls").alias("cd")),
                "dst",
            )
            .filter(F.col("cs") == F.col("cd"))
            .select("src", "dst")
        )
        # forward on the class-restricted edges, backward on their
        # reversal; each pass keyed on its probe side and persisted
        fb = []
        for directed in (
            same_cls,
            same_cls.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ):
            keyed = (
                directed.repartition(F.col("src"))
                .sortWithinPartitions("src")
                .persist()
            )
            lab, it, ok = _escalating_fixpoint(
                keyed,
                nodes.select("node", F.col("node").alias("lab")),
                inner_rounds,
                "min-label propagation",
                "the resulting SCC partition may be over-split",
            )
            keyed.unpersist()
            inner_extended = inner_extended or it > inner_rounds
            inner_converged = inner_converged and ok
            fb.append(lab)
        fwd, bwd = fb
        # refinement label: length-prefixed pair encoding — injective
        # for ARBITRARY node-id strings (a bare 'f|b' join collides
        # when ids may contain the delimiter: ('a','a|a|a') vs
        # ('a|a','a|a') — r12 ADVICE; fixture ids are numeric, but
        # this helper is generic). Decode rule: digits before the
        # FIRST ':' give len(f); lengths contain no ':', so the split
        # is unambiguous whatever f and b contain.
        newp = (
            fwd.select("node", F.col("lab").alias("f"))
            .join(bwd.select("node", F.col("lab").alias("b")), "node")
            .select(
                "node",
                F.concat(
                    F.length("f").cast("string"), F.lit(":"), "f", "b"
                ).alias("cls"),
                F.col("f").alias("scc_id"),
            )
            .localCheckpoint()
        )
        ndiff = (
            newp.join(p.select("node", F.col("cls").alias("prev")), "node")
            .filter(F.col("cls") != F.col("prev"))
            .count()
        )
        p = newp
        if ndiff == 0:
            # label strings reproduced themselves: classes are stable
            # under refinement, i.e. every class is one SCC (a class
            # that was a union of ≥2 SCCs always splits — the SCC
            # containing the class's fwd-min keeps the pair (m, m),
            # any other member node has bwd > m or fwd > m)
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
        # r13 (ADVICE): outer stability is only a valid convergence
        # certificate when every inner propagation actually reached
        # its fixpoint — a truncated min-label table can reproduce
        # itself across outer rounds while the partition is over-split
        stats["converged"] = converged and inner_converged
        stats["inner_cap_extended"] = inner_extended
        stats["inner_converged"] = inner_converged
    return p.select("node", "scc_id")


def _scc_ctes(
    outer: int = SCC_OUTER_ROUNDS, inner: int = SCC_INNER_ROUNDS
) -> str:
    """Iteration-unrolled DuckDB CTE chain mirroring
    :func:`strongly_connected_components` up to the final label table
    ``p{outer}`` (node, cls, scc_id): ``outer`` refinement passes,
    each with ``inner`` forward and ``inner`` backward min-label
    stages over the class-restricted edge set. Unrolled (not a
    recursive CTE) for the same reasons as ``_components_oracle``;
    every stage is MATERIALIZED because stage k is referenced twice by
    stage k+1. Early stopping on the Spark side can never diverge:
    min-label propagation is monotone and idempotent at its fixpoint,
    and a stable refinement reproduces itself (er, fwd, bwd, and the
    pair labels are pure functions of the class labels). Shared by
    the SCC report and the condensation composition."""
    parts: list[str] = []
    for r in range(1, outer + 1):
        parts.append(f"""
er{r} AS MATERIALIZED (
  SELECT e.from_paper AS src, e.to_paper AS dst
  FROM edges e
  JOIN p{r - 1} ps ON ps.node = e.from_paper
  JOIN p{r - 1} pd ON pd.node = e.to_paper
  WHERE ps.cls = pd.cls
),
f{r}_0 AS (SELECT node, node AS lab FROM nodes),
b{r}_0 AS (SELECT node, node AS lab FROM nodes)""")
        for k in range(1, inner + 1):
            parts.append(f"""
f{r}_{k} AS MATERIALIZED (
  SELECT t.node, LEAST(t.lab, COALESCE(MIN(q.lab), t.lab)) AS lab
  FROM f{r}_{k - 1} t
  LEFT JOIN er{r} e ON e.dst = t.node
  LEFT JOIN f{r}_{k - 1} q ON q.node = e.src
  GROUP BY t.node, t.lab
),
b{r}_{k} AS MATERIALIZED (
  SELECT t.node, LEAST(t.lab, COALESCE(MIN(q.lab), t.lab)) AS lab
  FROM b{r}_{k - 1} t
  LEFT JOIN er{r} e ON e.src = t.node
  LEFT JOIN b{r}_{k - 1} q ON q.node = e.dst
  GROUP BY t.node, t.lab
)""")
        parts.append(f"""
p{r} AS MATERIALIZED (
  SELECT f.node,
         CAST(length(f.lab) AS VARCHAR) || ':' || f.lab || b.lab AS cls,
         f.lab AS scc_id
  FROM f{r}_{inner} f JOIN b{r}_{inner} b ON b.node = f.node
)""")
    return (
        _EDGES_CTE
        + """,
nodes AS MATERIALIZED (
  SELECT DISTINCT from_paper AS node FROM edges
  UNION
  SELECT DISTINCT to_paper FROM edges
),
p0 AS MATERIALIZED (SELECT node, '*' AS cls FROM nodes),"""
        + ",".join(parts)
    )


def _scc_oracle(
    outer: int = SCC_OUTER_ROUNDS, inner: int = SCC_INNER_ROUNDS
) -> str:
    return (
        _scc_ctes(outer, inner)
        + f"""
SELECT scc_id, COUNT(*) AS n_nodes
FROM p{outer}
GROUP BY scc_id
ORDER BY n_nodes DESC, scc_id ASC
LIMIT 20
"""
    )


@register(
    "citation_scc",
    oracle=_scc_oracle(),
    tags=("graph", "scc", "iterative"),
)
def citation_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 STRONGLY connected components of the directed citation
    graph (r11 verdict #4 — everything component-shaped here was
    undirected; the citation edge list is directed, and cycles are
    real: the sf0.01 graph has 11 two-cycles, 58 directed triangles,
    and a self-loop). Same report shape as ``citation_components``;
    the oracle unrolls the identical forward-backward refinement
    schedule so the gate is a hard hash match, and pytest pins SCC
    semantics on planted shapes (2-cycle vs DAG chain, the
    diamond that defeats the single-pass (fwd, bwd) heuristic, a
    3-cycle with a tail) against the fixture-free definition."""
    return _component_sizes(
        strongly_connected_components(_edges(spark, sf_dir)), "scc_id"
    )


@register(
    "citation_scc_condensation",
    oracle=_scc_ctes()
    + f"""
SELECT la.scc_id AS scc_a, lb.scc_id AS scc_b, COUNT(*) AS n_edges
FROM edges e
JOIN p{SCC_OUTER_ROUNDS} la ON la.node = e.from_paper
JOIN p{SCC_OUTER_ROUNDS} lb ON lb.node = e.to_paper
WHERE la.scc_id <> lb.scc_id
GROUP BY la.scc_id, lb.scc_id
ORDER BY n_edges DESC, scc_a ASC, scc_b ASC
LIMIT 20
""",
    tags=("graph", "scc", "condensation", "iterative"),
)
def citation_scc_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONDENSATION DAG of the citation graph — the composition the
    SCC labeling exists for: contract every SCC to one node and count
    the cross-SCC edge bundles (top-20 heaviest). On this graph the
    condensation shows how the rest of the corpus cites into / out of
    the 1892-node giant cycle cluster. Plan: the SCC labeling runs
    once (node-sized result), then two label joins on the edge list
    and one combinable count — at 100 TB the labeling table is the
    broadcast/bucketed dimension, the edge scan stays linear. Oracle
    shares the SCC CTE chain verbatim (``_scc_ctes``) with a
    different final SELECT — the paragraph-family oracle convention."""
    e = _edges(spark, sf_dir)
    labels = strongly_connected_components(e).localCheckpoint()
    la = labels.select(
        F.col("node").alias("from_paper"), F.col("scc_id").alias("scc_a")
    )
    lb = labels.select(
        F.col("node").alias("to_paper"), F.col("scc_id").alias("scc_b")
    )
    return (
        e.join(la, "from_paper")
        .join(lb, "to_paper")
        .filter(F.col("scc_a") != F.col("scc_b"))
        .groupBy("scc_a", "scc_b")
        .agg(F.count(F.lit(1)).alias("n_edges"))
        .orderBy(
            F.col("n_edges").desc(), F.col("scc_a").asc(), F.col("scc_b").asc()
        )
        .limit(20)
    )


#: Longest-path relaxation budget for condensation layering, mirrored
#: in the unrolled oracle. Sized from the sf0.01 replay: the
#: condensation DAG's longest path is 6 (layer histogram
#: 0:12794 … 6:5), so synchronous one-hop-per-round relaxation needs 6
#: productive rounds + 1 confirming; 8 leaves one round of margin.
#: The cap cannot bind silently — same escalation + stats discipline
#: as the SCC passes (``_escalating_fixpoint``).
LAYER_ROUNDS = 8


def condensation_layers(
    edges: DataFrame,
    rounds: int = LAYER_ROUNDS,
    stats: dict | None = None,
    labels: DataFrame | None = None,
) -> DataFrame:
    """Topological LAYER assignment on the condensation DAG — the
    standard downstream ask once SCCs exist (citation-generation
    depth): ``layer(s) = 0`` for source SCCs (no incoming cross-SCC
    edge), else ``1 + max(layer(predecessor))`` — i.e. the longest
    path from any source, computed by synchronous max-relaxation
    (Bellman-Ford on a DAG with unit weights, integer arithmetic —
    hash-exact by construction). Monotone and idempotent at the
    fixpoint, so the same escalation discipline as the SCC passes
    (:func:`_escalating_fixpoint`) applies when the mirrored budget
    binds. Returns (scc_id, layer).

    Scale shape: the condensation edge list is the loop's invariant —
    repartitioned + sorted on the dst SCC and persisted once; each
    round joins it to the scc-sized layer table, and the per-SCC max
    is a plain associative aggregate (map-side combine, constant
    per-key state). Nothing is node-grain inside the loop.

    ``labels`` (node, scc_id) skips the SCC labeling when the caller
    already materialized one (the registered query computes it once
    and shares it with the per-SCC size table)."""
    if labels is None:
        labels = strongly_connected_components(edges).localCheckpoint()
    e = edges.select(
        F.col("from_paper").alias("src"), F.col("to_paper").alias("dst")
    )
    cond = (
        e.join(
            labels.select(F.col("node").alias("src"), F.col("scc_id").alias("a")),
            "src",
        )
        .join(
            labels.select(F.col("node").alias("dst"), F.col("scc_id").alias("b")),
            "dst",
        )
        .filter(F.col("a") != F.col("b"))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .distinct()
        .repartition(F.col("dst"))
        .sortWithinPartitions("dst")
        .persist()
    )
    layers, iterations, converged = _escalating_fixpoint(
        cond,
        labels.select("scc_id").distinct().select("scc_id", F.lit(0).alias("layer")),
        rounds,
        "condensation layering",
        "layers may understate depth",
        longest=True,
    )
    cond.unpersist()
    if stats is not None:
        stats["iterations"] = iterations
        stats["converged"] = converged
        stats["cap_extended"] = iterations > rounds
    return layers


def _scc_layers_oracle(
    outer: int = SCC_OUTER_ROUNDS,
    inner: int = SCC_INNER_ROUNDS,
    layer_rounds: int = LAYER_ROUNDS,
) -> str:
    """Unrolled DuckDB mirror of :func:`condensation_layers` on top of
    the shared SCC CTE chain (``_scc_ctes`` — the paragraph-family
    shared-oracle convention): ``layer_rounds`` synchronous
    max-relaxation stages over the distinct condensation edges, then
    the per-layer histogram. Integer arithmetic end to end — replay is
    bitwise by construction."""
    parts = [f"""
cond AS MATERIALIZED (
  SELECT DISTINCT la.scc_id AS a, lb.scc_id AS b
  FROM edges e
  JOIN p{outer} la ON la.node = e.from_paper
  JOIN p{outer} lb ON lb.node = e.to_paper
  WHERE la.scc_id <> lb.scc_id
),
sz AS MATERIALIZED (
  SELECT scc_id, COUNT(*) AS n_members FROM p{outer} GROUP BY scc_id
),
l0 AS MATERIALIZED (SELECT scc_id, 0 AS layer FROM sz)"""]
    for k in range(1, layer_rounds + 1):
        parts.append(f"""
l{k} AS MATERIALIZED (
  SELECT t.scc_id,
         GREATEST(t.layer, COALESCE(MAX(p.layer + 1), t.layer)) AS layer
  FROM l{k - 1} t
  LEFT JOIN cond c ON c.b = t.scc_id
  LEFT JOIN l{k - 1} p ON p.scc_id = c.a
  GROUP BY t.scc_id, t.layer
)""")
    return (
        _scc_ctes(outer, inner)
        + ","
        + ",".join(parts)
        + f"""
SELECT CAST(l.layer AS INT) AS layer,
       CAST(COUNT(*) AS BIGINT) AS n_sccs,
       CAST(SUM(s.n_members) AS BIGINT) AS n_papers
FROM l{layer_rounds} l JOIN sz s USING (scc_id)
GROUP BY l.layer
ORDER BY layer ASC
"""
    )


@register(
    "citation_scc_layers",
    oracle=_scc_layers_oracle(),
    tags=("graph", "scc", "condensation", "layering", "iterative"),
)
def citation_scc_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-layer histogram of the condensation DAG's topological
    layering (citation-generation depth — r12 verdict next-round #5):
    for each longest-path layer, how many SCCs sit there and how many
    papers they contain. The sf0.01 DAG is 7 layers deep (0..6) with
    the giant 1892-node SCC off-source. Oracle shares the SCC CTE
    chain verbatim and unrolls the same integer max-relaxation, so the
    gate is a hard hash match."""
    e = _edges(spark, sf_dir)
    # ONE SCC labeling (node-sized, checkpoint-truncated) feeds both
    # the layering loop and the per-SCC size table
    labels = strongly_connected_components(e).localCheckpoint()
    layers = condensation_layers(e, labels=labels)
    sizes = labels.groupBy("scc_id").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        layers.join(sizes, "scc_id")
        .groupBy(F.col("layer").cast("int").alias("layer"))
        .agg(
            F.count(F.lit(1)).alias("n_sccs"),
            F.sum("n_members").cast("long").alias("n_papers"),
        )
        .orderBy(F.col("layer").asc())
    )



# ---------------------------------------------------------------------------
# Fixed-point PageRank: the at-scale summation strategy, made exact
# ---------------------------------------------------------------------------

#: Fixed-point scale: ranks live in units of 1e-15 as BIGINT. Total
#: rank mass is ~1.0 → ~1e15 units, so every sum and every 17×
#: product stays far below the 9.2e18 BIGINT ceiling.
_FP_SCALE = 10**15
#: Damping 0.85 as the exact rational 17/20, applied as integer
#: multiply-then-floor-divide.
_D_NUM, _D_DEN = 17, 20


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 8,
    seeds: DataFrame | None = None,
    n_seeds: int | None = None,
    plan_probe: list | None = None,
) -> DataFrame:
    """PageRank (power method) over a directed (from_paper, to_paper)
    edge list with integer-quantized (fixed-point) arithmetic — the
    summation strategy that is BOTH cluster-scale and bitwise
    deterministic. Returns (node, rank_q): ranks as BIGINT multiples
    of ``1/_FP_SCALE`` (1e-15).

    Per iteration: contributions = edges ⋈ ranks (shuffle on
    from/node), then sum per target (shuffle on to). The (1−d) share
    and the dangling mass (nodes with no out-edges — every 'part' in
    the bipartite graph) teleport to the TELEPORT SET:

    - ``seeds=None``: every node — classic PageRank, total rank stays
      ~1. The set test is a literal true, which Catalyst folds away,
      so this plan carries no per-row seed test.
    - a ``seeds`` (node) table of ``n_seeds`` rows: only the seeds —
      PERSONALIZED PageRank, whose stationary distribution measures
      proximity to the seed set (the "related items" query). The
      caller passes the count it already knows; counting here would
      cost a job.

    Determinism: a key-sorted float fold is deterministic but pays
    per-key ``collect_list`` memory ∝ in-degree (OOM bait on a
    power-law graph); a plain float ``F.sum`` is associative but its
    association order drifts by ulps per run. Here every per-edge
    contribution is an integer floor division and every reduction a
    plain ``F.sum`` over BIGINT — associative and exact, so map-side
    partial aggregation engages (constant per-key state, no lists) and
    the result is identical regardless of partition order, task
    retries, or cluster size. Damping 0.85 is ``_D_NUM/_D_DEN``.
    Quantization truncates ≤1 unit (1e-15) per floor division, so
    ranks agree with float power iteration to well inside 1e-9 after
    6 iterations (pinned in pytest) while the DuckDB oracles replay
    the integer algorithm hash-exactly. All operands are nonnegative,
    so Spark's ``div`` (truncate toward zero) and DuckDB's ``//``
    (floor) agree.

    ``plan_probe`` (a list) collects each iteration's pre-checkpoint
    plan: the returned table's lineage is checkpoint-truncated, so
    plan pins (e.g. no ``collect_list``) must observe the plan each
    iteration's job runs.
    """
    if seeds is not None and not n_seeds:
        raise ValueError("a seeds table needs its row count n_seeds >= 1")
    # Materialize the loop-invariant relations once, and break lineage
    # every iteration (localCheckpoint) — otherwise iteration k re-runs
    # iterations 1..k-1 and the job is O(k²) in shuffles.
    #
    # The edge table is the loop's big side (the 100 TB relation) and
    # is joined on from_paper EVERY iteration, so it pays its shuffle
    # ONCE here: repartition + sortWithinPartitions on the join key,
    # then persist — the cached relation keeps its outputPartitioning
    # AND ordering (unlike localCheckpoint, whose ExistingRDD scan
    # forgets both — probed on pyspark 4.1), so each iteration's
    # sort-merge join exchanges/sorts only the ranks side. Measured at
    # sf0.1: ~25-30% off the 6-iteration wall time.
    #
    # out_deg rides INSIDE the edge layout (a window count over the
    # same partitioning — no join, no extra shuffle), and each rank
    # row carries a loop-invariant is_dangling flag, so an iteration
    # never joins ranks×out_deg: the dangling mass is a plain
    # filter+sum over the checkpointed ranks and the contribution join
    # is the only rank shuffle.
    from pyspark.sql import Window

    edges_w = (
        edges.repartition(F.col("from_paper"))
        .sortWithinPartitions("from_paper")
        .withColumn(
            "out_deg", F.count(F.lit(1)).over(Window.partitionBy("from_paper"))
        )
        .persist()
    )
    # node set + dangling flag in ONE aggregation: tag citer
    # occurrences False / cited occurrences True and take min(bool)
    # per node (false < true) — a node with any out-edge is
    # non-dangling.
    nodes = (
        edges_w.select(
            F.col("from_paper").alias("node"),
            F.lit(False).alias("is_dangling"),
        )
        .union(edges_w.select("to_paper", F.lit(True)))
        .groupBy("node")
        .agg(F.min("is_dangling").alias("is_dangling"))
    )
    if seeds is not None:
        nodes = nodes.join(
            seeds.select(F.col("node").alias("_s")),
            F.col("node") == F.col("_s"),
            "left",
        ).select("node", "is_dangling", F.col("_s").isNotNull().alias("is_seed"))
    nodes = nodes.localCheckpoint()
    carry = nodes.columns[1:]
    in_set = F.lit(True) if seeds is None else F.col("is_seed")
    n_set = nodes.count() if seeds is None else n_seeds
    # (1-d)·scale/n as one exact python int: ((den-num)·scale // den) // n
    base = ((_D_DEN - _D_NUM) * _FP_SCALE // _D_DEN) // n_set
    teleport = F.when(
        in_set,
        F.lit(base)
        + F.expr(f"(({_D_NUM} * _dangling_q) div {_D_DEN}) div {n_set}"),
    ).otherwise(F.lit(0))
    ranks = nodes.select(
        "node",
        F.when(in_set, F.lit(_FP_SCALE // n_set))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank_q"),
        *carry,
    )
    for _ in range(iterations):
        # Dangling mass as a LAZY 1-row aggregate folded in via a
        # broadcast crossJoin (the q22 lazy-scalar pattern,
        # relational.py) — no driver-side collect per iteration, and
        # the BIGINT sum needs no ordering discipline at all.
        dangling = (
            ranks.filter(F.col("is_dangling"))
            .agg(
                F.coalesce(F.sum("rank_q"), F.lit(0))
                .cast("long")
                .alias("_dangling_q")
            )
        )
        contribs = (
            edges_w.join(
                ranks.filter(~F.col("is_dangling")),
                edges_w.from_paper == F.col("node"),
            )
            .select(
                F.col("to_paper").alias("node"),
                F.expr("rank_q div out_deg").alias("v"),
            )
            .groupBy("node")
            .agg(F.sum("v").cast("long").alias("in_q"))
        )
        stepped = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    teleport
                    + F.expr(f"({_D_NUM} * coalesce(in_q, 0L)) div {_D_DEN}")
                )
                .cast("long")
                .alias("rank_q"),
                *carry,
            )
        )
        if plan_probe is not None:
            plan_probe.append(stepped)
        ranks = stepped.localCheckpoint()
    edges_w.unpersist()
    return ranks.select("node", "rank_q")


def _top_ranks(ranks: DataFrame, *cols: str) -> DataFrame:
    """The top-20 PageRank report: by rank_q, ties by node, with the
    rank double derived from the same BIGINT (so it stays
    hash-exact)."""
    return (
        ranks.orderBy(F.col("rank_q").desc(), F.col("node").asc())
        .limit(20)
        .select(
            "node",
            *cols,
            (F.col("rank_q").cast("double") / F.lit(float(_FP_SCALE))).alias(
                "rank"
            ),
        )
    )


def _pagerank_fp_oracle(
    iters: int = 6, scale: int = _FP_SCALE, include_q: bool = True
) -> str:
    """Iteration-unrolled DuckDB mirror of :func:`pagerank_fixed_point`.

    Integer arithmetic end to end: ``//`` floor division (equals
    Spark's ``div`` on the nonnegative operands here) and BIGINT sums
    (DuckDB's SUM widens to HUGEINT — cast back) make the replay
    bitwise by construction, with none of the fold-order engineering
    the float oracle needs. ``include_q=False`` selects the flagship
    (node, rank) projection — the rank double is derived from the
    same BIGINT, so it stays hash-exact."""
    stages = []
    for k in range(1, iters + 1):
        p = f"fr{k - 1}"
        stages.append(f"""
fd{k} AS MATERIALIZED (
  SELECT CAST(COALESCE(SUM(r.rank_q), 0) AS BIGINT) AS dq
  FROM {p} r LEFT JOIN outd o ON r.node = o.node
  WHERE o.node IS NULL
),
fc{k} AS MATERIALIZED (
  SELECT e.to_paper AS node,
         CAST(SUM(r.rank_q // o.out_deg) AS BIGINT) AS in_q
  FROM edges e
  JOIN {p} r ON e.from_paper = r.node
  JOIN outd o ON e.from_paper = o.node
  GROUP BY e.to_paper
),
fr{k} AS MATERIALIZED (
  SELECT nd.node,
         ((3 * {scale}) // 20) // (SELECT n FROM nn)
         + ((17 * (SELECT dq FROM fd{k})) // 20) // (SELECT n FROM nn)
         + (17 * COALESCE(c.in_q, 0)) // 20 AS rank_q
  FROM nodes nd LEFT JOIN fc{k} c ON nd.node = c.node
)""")
    return (
        _EDGES_CTE
        + f""",
nodes AS MATERIALIZED (
  SELECT from_paper AS node FROM edges UNION SELECT to_paper FROM edges
),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outd AS MATERIALIZED (
  SELECT from_paper AS node, COUNT(*) AS out_deg FROM edges GROUP BY from_paper
),
fr0 AS MATERIALIZED (
  SELECT node, {scale} // (SELECT n FROM nn) AS rank_q FROM nodes
),"""
        + ",".join(stages)
        + (
            f"""
SELECT node, CAST(rank_q AS BIGINT) AS rank_q,
       CAST(rank_q AS DOUBLE) / {float(scale)!r} AS rank
FROM fr{iters}
ORDER BY rank_q DESC, node ASC
LIMIT 20
"""
            if include_q
            else f"""
SELECT node, CAST(rank_q AS DOUBLE) / {float(scale)!r} AS rank
FROM fr{iters}
ORDER BY rank_q DESC, node ASC
LIMIT 20
"""
        )
    )


@register(
    "citation_pagerank",
    oracle=_pagerank_fp_oracle(6, include_q=False),
    bench=True,
    tags=("graph", "citation", "pagerank", "iterative", "fixed-point"),
)
def citation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 papers by PageRank on the bipartite citation graph
    (6 iterations), computed with :func:`pagerank_fixed_point`'s
    integer-quantized arithmetic — the formulation that is
    cluster-scale (plain associative BIGINT sums, map-side combine,
    constant per-key aggregation state — NO ``collect_list``) and
    hash-exact at the same time, so the driver gate stays a hard
    match without the per-key sorted-fold memory the float gate mode
    paid (r12 verdict #1: one aggregation buffer held in-degree-many
    structs — OOM bait on a power-law graph at 100×). Pytest pins the
    ranks against a pure-python integer replay (exact) and a float
    power iteration (within 1e-9). The absence of ``collect_list``
    from this plan is pinned by
    ``test_pagerank_flagship_plan_has_no_listfold``.
    """
    return _top_ranks(pagerank_fixed_point(_edges(spark, sf_dir), iterations=6))


@register(
    "citation_pagerank_scale",
    oracle=_pagerank_fp_oracle(6),
    tags=("graph", "citation", "pagerank", "iterative", "fixed-point", "scale"),
)
def citation_pagerank_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank exposing the RAW fixed-point units (rank_q
    BIGINT) alongside the derived double — the window's
    fixed-point-arithmetic representative. Same
    :func:`pagerank_fixed_point` computation as the flagship
    ``citation_pagerank`` (which converged onto this arithmetic in
    r13 — r12 verdict #1); benching both would time the same plan
    twice, so only the flagship carries the bench flag now."""
    return _top_ranks(
        pagerank_fixed_point(_edges(spark, sf_dir), iterations=6), "rank_q"
    )


def _cocitation(e: DataFrame) -> DataFrame:
    """The co-citation PROJECTION of a (from_paper, to_paper) edge
    list: undirected paper pairs (u, v), u < v, cited together by ≥2
    citers — the community-structure graph the triangle, k-core,
    personalized-PageRank, label-propagation and BFS queries run on
    (the raw citation graph is bipartite and triangle-free)."""
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.from_paper") == F.col("b.from_paper"))
            & (F.col("a.to_paper") < F.col("b.to_paper")),
        )
        .groupBy(F.col("a.to_paper").alias("u"), F.col("b.to_paper").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
    )


def triangle_counts(proj: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected edge list
    ``(u, v)`` (canonicalized u < v, no duplicates), via DEGREE-BASED
    EDGE ORIENTATION — the standard at-scale plan:

    - orient every edge from its lower-(degree, id) endpoint to its
      higher one, so each node's OUT-degree is O(sqrt(m)) regardless
      of its real degree (a heavy hub becomes everyone's dst and
      never pivots a wedge);
    - wedges = self-join of oriented edges on src, keeping only
      neighbor pairs ordered by the same (degree, id) key, so each
      wedge can close against exactly one oriented edge;
    - triangles = wedge ⋈ oriented-edge on (d1, d2).

    Total wedge work is bounded by Σ out-deg² = O(m^1.5) — the
    textbook bound — vs Σ deg², which a skewed graph makes quadratic.
    The triangle SET is orientation-invariant, so the id-oriented SQL
    oracle must produce identical per-node counts."""
    proj = proj.localCheckpoint()
    deg = (
        proj.select(F.col("u").alias("node"))
        .unionAll(proj.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    e = proj.join(du, "u").join(dv, "v")
    fwd = F.struct(F.col("deg_u"), F.col("u")) < F.struct(F.col("deg_v"), F.col("v"))
    oriented = e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd, F.col("deg_v")).otherwise(F.col("deg_u")).alias("ddeg"),
    ).localCheckpoint()
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (
            F.struct(F.col("e1.ddeg"), F.col("e1.dst"))
            < F.struct(F.col("e2.ddeg"), F.col("e2.dst"))
        ),
    ).select(
        F.col("e1.src").alias("s"),
        F.col("e1.dst").alias("d1"),
        F.col("e2.dst").alias("d2"),
    )
    closing = oriented.select(F.col("src").alias("d1"), F.col("dst").alias("d2"))
    tri = wedges.join(closing, ["d1", "d2"])
    corners = (
        tri.select(F.col("s").alias("paper"))
        .unionAll(tri.select(F.col("d1").alias("paper")))
        .unionAll(tri.select(F.col("d2").alias("paper")))
    )
    return corners.groupBy("paper").agg(F.count(F.lit(1)).alias("n_triangles"))


@register(
    "citation_triangles",
    oracle=_EDGES_CTE
    + """
, proj AS (
  SELECT a.to_paper AS u, b.to_paper AS v
  FROM edges a JOIN edges b
    ON a.from_paper = b.from_paper AND a.to_paper < b.to_paper
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM proj e1
  JOIN proj e2 ON e2.u = e1.v
  JOIN proj e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
  SELECT a AS paper FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT paper, COUNT(*) AS n_triangles
FROM corners GROUP BY paper
""",
    tags=("graph", "triangles", "orientation", "skew"),
)
def citation_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-citation PROJECTION (papers joined
    when ≥2 citers cite both — the community-structure graph; the raw
    citation graph is bipartite and triangle-free by construction).
    Spark runs the degree-oriented plan (``triangle_counts``); the
    oracle closes wedges on the simple id-orientation — the triangle
    set is orientation-invariant, so the per-node counts must agree
    exactly."""
    return triangle_counts(_cocitation(_edges(spark, sf_dir)))


def kcore_peel(proj: DataFrame, k: int, rounds: int) -> DataFrame:
    """``rounds`` rounds of k-core PEELING over an undirected edge
    list ``(u, v)``: each round drops every node with degree < k and
    all its edges, simultaneously (the textbook distributed/parallel
    peel — NOT sequential vertex removal, which has no bounded-round
    distributed form). Returns the surviving ``(paper, degree)``
    table after the last round.

    Fixed-iteration framing, like the pagerank gate: the true k-core
    is this loop's fixpoint, and at scale you iterate this exact
    per-round plan (degree aggregate + two semi-joins, all shuffling
    on the node key) until no node falls; the fixture's projection
    keeps shrinking slowly past round 8, so the registered operator
    pins 4 rounds to stay deterministic per SF rather than
    fixture-convergence-dependent."""
    und = proj.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        proj.select(F.col("v").alias("a"), F.col("u").alias("b"))
    ).localCheckpoint()
    e = und
    for _ in range(rounds):
        alive = (
            e.groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("a")
        )
        e = (
            e.join(alive, "a", "semi")
            .join(alive.select(F.col("a").alias("b")), "b", "semi")
            .localCheckpoint()
        )
    return e.groupBy(F.col("a").alias("paper")).agg(
        F.count(F.lit(1)).alias("degree")
    )


@register(
    "citation_kcore",
    oracle=_EDGES_CTE.replace("WITH edges AS", "WITH edges AS MATERIALIZED")
    + """
, proj AS MATERIALIZED (
  SELECT a.to_paper AS u, b.to_paper AS v
  FROM edges a JOIN edges b
    ON a.from_paper = b.from_paper AND a.to_paper < b.to_paper
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
e0 AS MATERIALIZED (
  SELECT u AS a, v AS b FROM proj UNION ALL SELECT v, u FROM proj
),
al1 AS (SELECT a FROM e0 GROUP BY a HAVING COUNT(*) >= 3),
e1 AS MATERIALIZED (
  SELECT e.a, e.b FROM e0 e JOIN al1 x ON e.a = x.a JOIN al1 y ON e.b = y.a
),
al2 AS (SELECT a FROM e1 GROUP BY a HAVING COUNT(*) >= 3),
e2 AS MATERIALIZED (
  SELECT e.a, e.b FROM e1 e JOIN al2 x ON e.a = x.a JOIN al2 y ON e.b = y.a
),
al3 AS (SELECT a FROM e2 GROUP BY a HAVING COUNT(*) >= 3),
e3 AS MATERIALIZED (
  SELECT e.a, e.b FROM e2 e JOIN al3 x ON e.a = x.a JOIN al3 y ON e.b = y.a
),
al4 AS (SELECT a FROM e3 GROUP BY a HAVING COUNT(*) >= 3),
e4 AS MATERIALIZED (
  SELECT e.a, e.b FROM e3 e JOIN al4 x ON e.a = x.a JOIN al4 y ON e.b = y.a
)
SELECT a AS paper, COUNT(*) AS degree FROM e4 GROUP BY a
""",
    tags=("graph", "kcore", "iterative", "peeling"),
)
def citation_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four k=3 peeling rounds over the co-citation projection (the
    same ≥2-co-citer graph as ``citation_triangles``): surviving
    papers with their residual degrees — the density-core extraction
    a community-mining pipeline runs after projection. The oracle
    unrolls the identical four rounds (materialized CTEs)."""
    return kcore_peel(_cocitation(_edges(spark, sf_dir)), k=3, rounds=4)


@register(
    "citation_degree_histogram",
    oracle=_EDGES_CTE
    + """
, deg AS (
  SELECT to_paper, CAST(COUNT(*) AS BIGINT) AS d
  FROM edges GROUP BY to_paper
)
SELECT CAST(FLOOR(LOG2(d)) AS BIGINT) AS log2_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_papers,
       CAST(MIN(d) AS BIGINT) AS min_degree,
       CAST(MAX(d) AS BIGINT) AS max_degree,
       CAST(SUM(d) AS BIGINT) AS total_citations
FROM deg GROUP BY 1
""",
    tags=("graph", "degree", "histogram", "distribution"),
)
def citation_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree DISTRIBUTION of the citation graph in log2 buckets —
    the first diagnostic run on any production graph (is it
    power-law? where is the hub tail that decides skew strategy?).
    Integer bucket index via FLOOR(LOG2(d)): d is a positive BIGINT
    and log2 of an exact integer is bit-identical IEEE on both
    engines, so even the float step is hash-safe; everything else is
    integer. Two bounded aggregations — degree (one shuffle on the
    node key) then the ≤64-bucket rollup."""
    e = edges_from_lineitem(load_table(spark, sf_dir, "lineitem"))
    deg = e.groupBy("to_paper").agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("d"))
    return deg.groupBy(
        F.expr("CAST(FLOOR(LOG2(d)) AS BIGINT)").alias("log2_bucket")
    ).agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_papers"),
        F.expr("CAST(MIN(d) AS BIGINT)").alias("min_degree"),
        F.expr("CAST(MAX(d) AS BIGINT)").alias("max_degree"),
        F.expr("CAST(SUM(d) AS BIGINT)").alias("total_citations"),
    )


_PPR_PROJ_CTES = """
proj AS MATERIALIZED (
  SELECT a.to_paper AS u, b.to_paper AS v
  FROM edges a JOIN edges b
    ON a.from_paper = b.from_paper AND a.to_paper < b.to_paper
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
und AS MATERIALIZED (
  SELECT u AS from_paper, v AS to_paper FROM proj
  UNION ALL SELECT v, u FROM proj
),
pnodes AS MATERIALIZED (
  SELECT from_paper AS node FROM und UNION SELECT to_paper FROM und
),
seeds AS MATERIALIZED (
  SELECT to_paper AS node FROM und
  GROUP BY to_paper ORDER BY COUNT(*) DESC, to_paper ASC LIMIT 2
),
poutd AS MATERIALIZED (
  SELECT from_paper AS node, COUNT(*) AS out_deg FROM und GROUP BY 1
)
"""


def _ppr_oracle(iters: int = 4, scale: int = _FP_SCALE, n_seeds: int = 2) -> str:
    """Unrolled DuckDB replay of the personalized fixed-point loop
    over the co-citation projection (seed-restricted teleport; the
    undirected projection has no dangling nodes, so the dangling
    fold is identically zero and is omitted from the replay)."""
    base_s = ((20 - 17) * scale // 20) // n_seeds
    stages = []
    for k in range(1, iters + 1):
        p = f"pr{k - 1}"
        stages.append(f"""
pc{k} AS MATERIALIZED (
  SELECT e.to_paper AS node,
         CAST(SUM(r.rank_q // o.out_deg) AS BIGINT) AS in_q
  FROM und e
  JOIN {p} r ON e.from_paper = r.node
  JOIN poutd o ON e.from_paper = o.node
  GROUP BY e.to_paper
),
pr{k} AS MATERIALIZED (
  SELECT nd.node,
         CASE WHEN s.node IS NOT NULL THEN {base_s} ELSE 0 END
         + (17 * COALESCE(c.in_q, 0)) // 20 AS rank_q
  FROM pnodes nd
  LEFT JOIN seeds s ON s.node = nd.node
  LEFT JOIN pc{k} c ON c.node = nd.node
)""")
    return (
        _EDGES_CTE
        + ","
        + _PPR_PROJ_CTES
        + f""",
pr0 AS MATERIALIZED (
  SELECT nd.node,
         CASE WHEN s.node IS NOT NULL THEN {scale // n_seeds}
              ELSE 0 END AS rank_q
  FROM pnodes nd LEFT JOIN seeds s ON s.node = nd.node
),"""
        + ",".join(stages)
        + f"""
SELECT node, CAST(rank_q AS BIGINT) AS rank_q,
       CAST(rank_q AS DOUBLE) / {float(scale)!r} AS rank
FROM pr{iters}
ORDER BY rank_q DESC, node ASC
LIMIT 20
"""
    )


@register(
    "citation_personalized_pagerank",
    oracle=_ppr_oracle(4),
    tags=("graph", "pagerank", "personalized", "iterative", "fixed-point"),
)
def citation_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PERSONALIZED PageRank around the two most-connected
    papers of the co-citation projection — the "papers related to
    THESE" query, the seed-restricted restart that powers
    recommendation and local community detection. Same integer
    arithmetic as ``citation_pagerank_scale``, different restart
    vector; the projection is undirected so no node dangles and the
    at-scale plan is pure associative sums + a bounded seed join."""
    proj = _cocitation(_edges(spark, sf_dir)).localCheckpoint()
    und = proj.select(F.col("u").alias("from_paper"), F.col("v").alias("to_paper")).unionAll(
        proj.select(F.col("v").alias("from_paper"), F.col("u").alias("to_paper"))
    )
    seeds = (
        und.groupBy(F.col("to_paper").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .orderBy(F.col("deg").desc(), F.col("node").asc())
        .limit(2)
        .select("node")
    )
    return _top_ranks(
        pagerank_fixed_point(und, iterations=4, seeds=seeds, n_seeds=2), "rank_q"
    )


# --- link prediction: resource-allocation index ---------------------------

#: Fixed-point scale for the per-citer RA weight 1/deg.
_RA_SCALE = 1_000_000_000


@register(
    "citation_link_prediction",
    oracle=_EDGES_CTE
    + f"""
, deg AS (
  SELECT from_paper, COUNT(*) AS d FROM edges GROUP BY from_paper
),
ew AS (
  SELECT e.from_paper, e.to_paper, {_RA_SCALE} // d.d AS w
  FROM edges e JOIN deg d USING (from_paper)
)
SELECT a.to_paper AS paper_a, b.to_paper AS paper_b,
       COUNT(*) AS n_common,
       CAST(SUM(a.w) AS BIGINT) AS ra_score_fp
FROM ew a JOIN ew b
  ON a.from_paper = b.from_paper AND a.to_paper < b.to_paper
GROUP BY a.to_paper, b.to_paper
HAVING COUNT(*) >= 2
ORDER BY ra_score_fp DESC, paper_a ASC, paper_b ASC
LIMIT 20
""",
    tags=("graph", "citation", "link-prediction"),
)
def citation_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the citation graph: top-20 paper pairs by the
    RESOURCE-ALLOCATION index RA(u,v) = Σ_{{w ∈ Γ(u)∩Γ(v)}} 1/deg(w)
    (Zhou/Lü/Zhang 2009) — co-citation where each common citer is
    discounted by how indiscriminately it cites. A citer of 2 papers
    is strong evidence its papers are related; a citer of 500 is
    nearly none. This is the count→weighted step from
    ``citation_cocitation`` toward "papers you should also read".

    Cross-engine determinism: the weight is the INTEGER fixed-point
    ``SCALE div deg`` (Spark ``div`` ≡ DuckDB ``//``, both truncating),
    so the score is an exact BIGINT sum — no float accumulation, no
    association-order hazard, unlike the classic Adamic-Adar
    1/log(deg) weight whose libm log2 could differ in the last ulp
    between engines. RA is the better-performing index in published
    link-prediction benchmarks anyway.

    Scale shape: degree aggregate and weighted self-join both shuffle
    on the citer key (the weight join rides the same partitioning);
    pairs materialize per-citer (bounded by citation-list length),
    never globally; the pair aggregate's ≥2-common filter and top-20
    TakeOrderedAndProject keep the output tiny at any corpus size."""
    return resource_allocation_pairs(_edges(spark, sf_dir))


def resource_allocation_pairs(e: DataFrame) -> DataFrame:
    """RA-index pair scoring over a (from_paper, to_paper) edge list —
    see :func:`citation_link_prediction` for semantics and the
    integer fixed-point rationale."""
    deg = e.groupBy("from_paper").agg(F.count(F.lit(1)).alias("d"))
    ew = e.join(deg, "from_paper").select(
        "from_paper", "to_paper", F.expr(f"{_RA_SCALE} div d").alias("w")
    )
    a, b = ew.alias("a"), ew.alias("b")
    return (
        a.join(b, (F.col("a.from_paper") == F.col("b.from_paper"))
               & (F.col("a.to_paper") < F.col("b.to_paper")))
        .groupBy(
            F.col("a.to_paper").alias("paper_a"),
            F.col("b.to_paper").alias("paper_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.col("a.w")).alias("ra_score_fp"),
        )
        .filter(F.col("n_common") >= 2)
        .orderBy(
            F.col("ra_score_fp").desc(), F.col("paper_a").asc(),
            F.col("paper_b").asc(),
        )
        .limit(20)
    )


# --- community detection: synchronous label propagation -------------------

_LPA_ROUNDS = 4


def label_propagation(proj: DataFrame, rounds: int = _LPA_ROUNDS) -> DataFrame:
    """Synchronous label propagation over an undirected edge list
    ``(u, v)``: every node starts as its own label; each round, every
    node simultaneously adopts the most frequent label among its
    neighbors, ties broken by MINIMUM label — the fully deterministic
    variant of LPA (classic async LPA breaks ties randomly and is
    unreproducible by design; the deterministic sync rule is what a
    distributed engine can actually guarantee, at the known cost of
    possible 2-cycles on bipartite-ish regions, which a fixed round
    count renders moot).

    Per round: one join of the edge list against the label table on
    the neighbor key, one (node, label) count aggregate, one per-node
    argmax window — all shuffling on the node key. Labels
    localCheckpoint per round (the k-means/k-center convention: a
    lazy lineage would re-derive every prior round per consumer)."""
    und = (
        proj.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(proj.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .localCheckpoint()
    )
    labels = und.select("node").distinct().select(
        "node", F.col("node").alias("lbl")
    )
    from pyspark.sql import Window

    for _ in range(rounds):
        votes = und.join(
            labels.select(F.col("node").alias("nbr"), "lbl"), "nbr"
        ).select("node", "lbl")
        counts = votes.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("lbl").asc())
        labels = (
            counts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", "lbl")
            .localCheckpoint()
        )
    return labels.select(F.col("node").alias("paper"), F.col("lbl").alias("community"))


def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    stages = []
    for t in range(1, rounds + 1):
        stages.append(f"""
c{t} AS MATERIALIZED (
  SELECT u.node, l.lbl, COUNT(*) AS c
  FROM und u JOIN l{t - 1} l ON l.node = u.nbr
  GROUP BY 1, 2
),
l{t} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, lbl ASC) AS rk
    FROM c{t}
  ) WHERE rk = 1
)""")
    return (
        _EDGES_CTE
        + f"""
, proj AS MATERIALIZED (
  SELECT a.to_paper AS u, b.to_paper AS v
  FROM edges a JOIN edges b
    ON a.from_paper = b.from_paper AND a.to_paper < b.to_paper
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
und AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM proj
  UNION ALL
  SELECT v, u FROM proj
),
l0 AS (SELECT DISTINCT node, node AS lbl FROM und),{",".join(stages)}
SELECT node AS paper, lbl AS community FROM l{rounds}
"""
    )


@register(
    "citation_label_propagation",
    oracle=_lpa_oracle(),
    tags=("graph", "community", "label-propagation"),
)
def citation_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMUNITY DETECTION on the co-citation projection by
    deterministic synchronous label propagation — the "topic
    clusters" complement to ``citation_components`` (connectivity)
    and ``citation_personalized_pagerank`` (seeded relevance):
    connected components lump everything reachable together, LPA
    splits dense regions from the sparse bridges between them.

    Fixed 4 rounds (the pagerank/kcore gate framing: the operator
    pins rounds, determinism per SF, rather than depending on
    fixture convergence). Every round is the same keyed
    join+count+argmax plan — at 100 TB each is three node-keyed
    shuffles with map-side combine on the vote counts."""
    return label_propagation(_cocitation(_edges(spark, sf_dir)))


# --- HITS: hubs and authorities on the bipartite citation graph -----------

_HITS_SCALE = 1 << 12
_HITS_ROUNDS = 4


def hits_fixed_point(edges: DataFrame, rounds: int = _HITS_ROUNDS) -> DataFrame:
    """Kleinberg's HITS in integer fixed point over a directed edge
    list ``(from_paper, to_paper)``: authority(p) = Σ hub(citers of
    p), hub(c) = Σ authority(cited by c), each half-step renormalized
    to max = 2^12 by truncating integer division (the
    ``pagerank_fixed_point`` determinism strategy — scores are exact
    BIGINT sums, so partition order can't matter and the unrolled SQL
    oracle replays bitwise). On the bipartite citation graph the two
    roles are disjoint node sets — the natural shape for this
    algorithm (hubs = survey-like citers, authorities = canonical
    papers).

    Per round: two keyed join+aggregate passes (one per role), both
    shuffling on the node key, plus two 1-row max folds. Returns the
    final (role, paper, score_q) table."""
    e = edges.localCheckpoint()
    hubs = e.select("from_paper").distinct().select(
        F.col("from_paper").alias("node"),
        F.lit(_HITS_SCALE).cast("long").alias("h"),
    )
    auth = None
    for _ in range(rounds):
        a_raw = (
            e.join(hubs.select(F.col("node").alias("from_paper"), "h"),
                   "from_paper")
            .groupBy("to_paper")
            .agg(F.sum("h").alias("a_raw"))
        )
        am = a_raw.agg(F.max("a_raw").alias("m"))
        auth = (
            a_raw.crossJoin(F.broadcast(am))
            .select(
                F.col("to_paper").alias("node"),
                F.expr(f"(a_raw * {_HITS_SCALE}) div m").alias("a"),
            )
            .localCheckpoint()
        )
        h_raw = (
            e.join(auth.select(F.col("node").alias("to_paper"), "a"),
                   "to_paper")
            .groupBy("from_paper")
            .agg(F.sum("a").alias("h_raw"))
        )
        hm = h_raw.agg(F.max("h_raw").alias("m"))
        hubs = (
            h_raw.crossJoin(F.broadcast(hm))
            .select(
                F.col("from_paper").alias("node"),
                F.expr(f"(h_raw * {_HITS_SCALE}) div m").alias("h"),
            )
            .localCheckpoint()
        )
    return hubs.select(
        F.lit("hub").alias("role"), F.col("node").alias("paper"),
        F.col("h").alias("score_q"),
    ).unionByName(
        auth.select(
            F.lit("authority").alias("role"), F.col("node").alias("paper"),
            F.col("a").alias("score_q"),
        )
    )


def _hits_oracle(rounds: int = _HITS_ROUNDS) -> str:
    stages = []
    for t in range(1, rounds + 1):
        stages.append(f"""
ar{t} AS MATERIALIZED (
  SELECT e.to_paper, CAST(SUM(h.h) AS BIGINT) AS a_raw
  FROM edges e JOIN h{t - 1} h ON h.node = e.from_paper
  GROUP BY e.to_paper
),
a{t} AS MATERIALIZED (
  SELECT to_paper AS node,
         CAST((a_raw * {_HITS_SCALE}) // m.m AS BIGINT) AS a
  FROM ar{t}, (SELECT MAX(a_raw) AS m FROM ar{t}) m
),
hr{t} AS MATERIALIZED (
  SELECT e.from_paper, CAST(SUM(a.a) AS BIGINT) AS h_raw
  FROM edges e JOIN a{t} a ON a.node = e.to_paper
  GROUP BY e.from_paper
),
h{t} AS MATERIALIZED (
  SELECT from_paper AS node,
         CAST((h_raw * {_HITS_SCALE}) // m.m AS BIGINT) AS h
  FROM hr{t}, (SELECT MAX(h_raw) AS m FROM hr{t}) m
)""")
    return (
        _EDGES_CTE
        + f""", h0 AS (
  SELECT DISTINCT from_paper AS node, CAST({_HITS_SCALE} AS BIGINT) AS h
  FROM edges
),{",".join(stages)}
SELECT 'hub' AS role, node AS paper, h AS score_q FROM h{rounds}
UNION ALL
SELECT 'authority', node, a FROM a{rounds}
"""
    )


@register(
    "citation_hits",
    oracle=_hits_oracle(),
    tags=("graph", "hits", "link-analysis", "iterative"),
)
def citation_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities — the second classic link-analysis
    algorithm beside PageRank, and the one whose two-role structure
    matches this bipartite citation graph exactly (hubs = citers
    ranked by how authoritative their citation lists are, authorities
    = papers ranked by how good their citers' taste is — mutual
    reinforcement, unrolled 4 rounds in the fixed-round gate
    framing). All integer arithmetic; sums bounded by
    max-degree·2^12 ≲ 2^25 at any fixture SF."""
    return hits_fixed_point(_edges(spark, sf_dir))


# --- BFS: bounded-depth traversal from a deterministic seed ----------------

_BFS_DEPTH = 3


def bfs_depths(proj: DataFrame, seeds: DataFrame, depth: int = _BFS_DEPTH) -> DataFrame:
    """Bounded-depth BFS over an undirected edge list ``(u, v)`` from
    a seed set: returns (paper, dist) for every node within ``depth``
    hops — each level is one frontier-join + anti-join against the
    visited set, the textbook distributed BFS (level-synchronous;
    lineage linear in depth). Distances are exact small integers."""
    und = (
        proj.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(proj.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .localCheckpoint()
    )
    visited = seeds.select("node", F.lit(0).alias("dist")).localCheckpoint()
    frontier = visited.select("node")
    for d in range(1, depth + 1):
        nxt = (
            und.join(frontier, "node", "semi")
            .select(F.col("nbr").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "anti")
            .localCheckpoint()
        )
        visited = visited.unionByName(
            nxt.select("node", F.lit(d).alias("dist"))
        ).localCheckpoint()
        frontier = nxt
    return visited.select(F.col("node").alias("paper"), F.col("dist").cast("int").alias("dist"))


def _bfs_oracle(depth: int = _BFS_DEPTH) -> str:
    stages = []
    for d in range(1, depth + 1):
        stages.append(f"""
f{d} AS MATERIALIZED (
  SELECT DISTINCT u.nbr AS node
  FROM und u JOIN f{d - 1} f ON f.node = u.node
  WHERE u.nbr NOT IN (SELECT node FROM v{d - 1})
),
v{d} AS MATERIALIZED (
  SELECT node, dist FROM v{d - 1}
  UNION ALL
  SELECT node, {d} FROM f{d}
)""")
    return (
        _EDGES_CTE
        + f""", proj AS MATERIALIZED (
  SELECT a.to_paper AS u, b.to_paper AS v
  FROM edges a JOIN edges b
    ON a.from_paper = b.from_paper AND a.to_paper < b.to_paper
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
und AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM proj
  UNION ALL SELECT v, u FROM proj
),
deg AS (SELECT node, COUNT(*) AS d FROM und GROUP BY node),
seed AS (
  SELECT node FROM deg ORDER BY d DESC, node ASC LIMIT 1
),
f0 AS (SELECT node FROM seed),
v0 AS (SELECT node, 0 AS dist FROM seed),{",".join(stages)}
SELECT node AS paper, CAST(dist AS INT) AS dist FROM v{depth}
"""
    )


@register(
    "citation_bfs_depths",
    oracle=_bfs_oracle(),
    tags=("graph", "bfs", "traversal"),
)
def citation_bfs_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS from the co-citation projection's top hub
    (max degree, min id on ties — a deterministic seed): the
    neighborhood-expansion primitive behind "related within k hops",
    graph sampling, and ego-network extraction. Level-synchronous
    frontier expansion, 3 levels unrolled (the fixed-round gate
    framing); each level is a node-keyed semi-join + anti-join
    against the visited set — at 100 TB the frontier and visited
    tables partition by node id and the traversal is |E(frontier)|
    work per level, never corpus-wide."""
    proj = _cocitation(_edges(spark, sf_dir)).localCheckpoint()
    und_deg = (
        proj.select(F.col("u").alias("node"))
        .unionAll(proj.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    seed = (
        und_deg.orderBy(F.col("d").desc(), F.col("node").asc())
        .limit(1)
        .select("node")
    )
    return bfs_depths(proj, seed)


#: Random-walk geometry: one 4-hop walk per start node.
WALK_LEN = 4


def _walk_pick_spark(start: str, cur: str, step: int) -> str:
    """Deterministic next-hop index (1-based): 60-bit md5 integer of
    (start, current node, step) mod degree — the cross-engine md5
    idiom used by the exact-substring family."""
    return (
        f"1 + CAST(conv(substr(md5(concat({start}, '|', {cur}, '|', "
        f"'{step}')), 1, 15), 16, 10) AS BIGINT) % _deg"
    )


def _walk_pick_duck(start: str, cur: str, step: int) -> str:
    return (
        f"1 + CAST(('0x' || substr(md5({start} || '|' || {cur} || '|' || "
        f"'{step}'), 1, 15)) AS BIGINT) % d.deg"
    )


def _random_walks_oracle() -> str:
    """Unrolled DuckDB mirror of :func:`citation_random_walks`: one
    CTE per hop, each picking the row_number-indexed neighbor whose
    index is the shared md5 hash mod degree."""
    stages = []
    prev_cols = "f.start, f.start AS cur"
    for k in range(1, WALK_LEN + 1):
        carry = ", ".join(f"f.v{j}" for j in range(1, k))
        carry = carry + ", " if carry else ""
        stages.append(f"""
s{k} AS (
  SELECT f.start, {carry}n.b AS v{k}
  FROM s{k - 1} f
  JOIN deg d ON d.a = f.{"v" + str(k - 1) if k > 1 else "start"}
  JOIN adj n ON n.a = f.{"v" + str(k - 1) if k > 1 else "start"}
            AND n.idx = {_walk_pick_duck("f.start", 'f.' + ("v" + str(k - 1) if k > 1 else "start"), k)}
)""")
    return (
        _EDGES_CTE
        + """,
und AS MATERIALIZED (
  SELECT from_paper AS a, to_paper AS b FROM edges
  UNION
  SELECT to_paper, from_paper FROM edges
),
deg AS MATERIALIZED (SELECT a, COUNT(*) AS deg FROM und GROUP BY a),
adj AS MATERIALIZED (
  SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) AS idx
  FROM und
),
s0 AS (SELECT DISTINCT a AS start FROM und),"""
        + ",".join(stages)
        + f"""
SELECT start, {", ".join(f"v{k}" for k in range(1, WALK_LEN + 1))}
FROM s{WALK_LEN}
"""
    )


@register(
    "citation_random_walks",
    oracle=_random_walks_oracle(),
    # bench since the r10 extension: the hop-join shape (frontier
    # probes into a persisted rank-indexed adjacency) is new to the
    # bench set and worth round-over-round tracking
    bench=True,
    tags=("graph", "walks", "embedding", "llm"),
)
def citation_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC RANDOM WALKS — the DeepWalk/node2vec corpus
    generator: one ``WALK_LEN``-hop walk from every node of the
    undirected citation graph, next hop chosen by a 60-bit md5 hash
    of (start, current node, step) mod degree over the
    neighbor-rank-indexed adjacency. Hash-driven selection makes the
    walk corpus REPRODUCIBLE (the property that lets a 100 TB
    embedding pipeline regenerate identical training data) and gives
    the DuckDB oracle an exact unrolled mirror; conditioning the hash
    on the start node decorrelates walks that pass through the same
    node at the same step.

    Scale shape: the adjacency (edge-sized, with per-node neighbor
    ranks) is the loop invariant — built once, repartitioned +
    locally sorted under the probe key (a, idx), persisted
    MEMORY_AND_DISK (the PageRank-family layout). Each hop joins the
    NODE-sized frontier against the node-sized degree table to
    compute its target index, then probes the adjacency on
    (node, idx) — one row per walker per hop, never a
    neighborhood expansion, so per-hop cost is O(walkers) probes
    regardless of degree skew. Every node has degree >= 1 in the
    undirected view, so walks never die: output rows = node count."""
    return random_walks(_edges(spark, sf_dir))


def random_walks(e: DataFrame) -> DataFrame:
    """The walk core on a prepared (from_paper, to_paper) edge frame —
    shared by the registered query and ``tools/scale.py random_walks``.

    Folding the landing node's degree into the adjacency row instead
    of the per-hop frontier⋈degree join was 0.78× at sf1: it adds an
    edge-sized exchange at build time (AB_R14_INROW_SF1.json)."""
    und = (
        e.select(F.col("from_paper").alias("a"), F.col("to_paper").alias("b"))
        .union(e.select(F.col("to_paper"), F.col("from_paper")))
        .distinct()
    )
    from pyspark.sql import Window
    from pyspark import StorageLevel

    # node-sized degree table: checkpointed once (the PageRank
    # convention for small per-iteration tables); the start frontier
    # derives from it — deg.a IS the distinct node set, so und is
    # computed exactly twice (deg build + adj build)
    deg = (
        und.groupBy("a").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint()
    )
    adj_rows = und.select(
        "a",
        "b",
        F.row_number().over(Window.partitionBy("a").orderBy("b")).alias("idx"),
    )
    adj = (
        adj_rows.repartition(F.col("a"), F.col("idx"))
        .sortWithinPartitions("a", "idx")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    fr = deg.select(F.col("a").alias("start"))
    cols: list[str] = []
    cur = "start"
    # adj is re-joined every hop, and from hop 2 on it is already in
    # the frontier's own lineage — an unaliased self-join would let
    # `adj.a` resolve INSIDE the frontier (measured: every hop-2 pick
    # wrong). Fresh string aliases per hop keep each join side
    # unambiguous.
    for k in range(1, WALK_LEN + 1):
        dk, ak = f"_d{k}", f"_a{k}"
        want = fr.join(
            deg.alias(dk), fr[cur] == F.col(f"{dk}.a")
        ).select(
            "start",
            *cols,
            F.col(cur).alias("_cur"),
            F.col(f"{dk}.deg").alias("_deg"),
        )
        want = want.select(
            "start",
            *cols,
            "_cur",
            F.expr(_walk_pick_spark("start", "_cur", k)).alias("_widx"),
        )
        fr = want.join(
            adj.alias(ak),
            (F.col("_cur") == F.col(f"{ak}.a"))
            & (F.col("_widx") == F.col(f"{ak}.idx")),
        ).select("start", *cols, F.col(f"{ak}.b").alias(f"v{k}"))
        cols.append(f"v{k}")
        cur = f"v{k}"
    return fr.select("start", *cols)


#: Skip-gram window over the 5-node walk sequence (start, v1..v4):
#: directed (center, context) pairs with |i - j| <= 2, i != j.
_SKIPGRAM_IDX = [
    (i, j)
    for i in range(WALK_LEN + 1)
    for j in range(WALK_LEN + 1)
    if i != j and abs(i - j) <= 2
]


def _walk_skipgrams_oracle() -> str:
    """DuckDB mirror: the full unrolled walks oracle as a subquery,
    then the fixed 14-pair skip-gram explode and the count rollup."""
    walk_cols = ["start"] + [f"v{k}" for k in range(1, WALK_LEN + 1)]
    pairs = ", ".join(
        f"struct_pack(center := w.{walk_cols[i]}, context := w.{walk_cols[j]})"
        for i, j in _SKIPGRAM_IDX
    )
    walks_sql = _random_walks_oracle().rstrip()
    return f"""
WITH walks AS (
{walks_sql}
),
pg AS (
  SELECT unnest([{pairs}]) AS p FROM walks w
)
SELECT p.center AS center, p.context AS context,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pg
GROUP BY 1, 2
ORDER BY n_pairs DESC, center ASC, context ASC
LIMIT 100
"""


@register(
    "citation_walk_skipgrams",
    oracle=_walk_skipgrams_oracle(),
    tags=("graph", "walks", "embedding", "llm"),
)
def citation_walk_skipgrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKIP-GRAM PAIR EXTRACTION over the deterministic walk corpus —
    the word2vec-style training-data step that follows
    :func:`citation_random_walks` in a DeepWalk pipeline: every walk
    (start, v1..v4) emits directed (center, context) pairs within a
    2-hop window (the fixed 14 index pairs), counted corpus-wide;
    top-100 by count with a deterministic tie-break. Composing the
    two operators keeps the whole graph-embedding data path (walks →
    co-occurrence pairs) hash-gated end to end.

    Scale shape: the pair explode is a row-local map over the
    node-count-sized walk table (14× fan-out, no shuffle), followed
    by one map-side-combinable count aggregation and TakeOrdered —
    the same count/normalize shape as the bigram LM, on walk space
    instead of token space."""
    walks = citation_random_walks(spark, sf_dir)
    walk_cols = ["start"] + [f"v{k}" for k in range(1, WALK_LEN + 1)]
    pairs = ", ".join(
        f"struct({walk_cols[i]} AS center, {walk_cols[j]} AS context)"
        for i, j in _SKIPGRAM_IDX
    )
    return (
        walks.select(F.explode(F.expr(f"array({pairs})")).alias("p"))
        .select("p.center", "p.context")
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(
            F.col("n_pairs").desc(), F.col("center").asc(), F.col("context").asc()
        )
        .limit(100)
    )
