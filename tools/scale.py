"""Scale curves: wall time and jobs against input size, for registered
queries and four named units built on the package, with construction
checks on the replicated inputs.

Usage:
  python tools/scale.py NAME [NAME ...] [--inputs LADDER] [--json PATH]

LADDER is one of:

- a comma list of fixture dirs; the default is the three testdata
  scale factors plus ``benchdata/sf1`` when it exists
  (``tools/gen_sf.py benchdata/sf1 10``). A point's K is its lineitem
  rows over the first point's. Documents and embeddings are capped
  (500 rows up to sf0.01, 5,000 and 2,000 at sf0.1), so the documents
  families want ``corpus``;
- ``corpus``: sf0.1's documents and embeddings at K = 1, 10, 100
  (``tools/gen_corpus.py`` into ``benchdata/corpus_xK``; 1× is sf0.1);
- ``edges``: sf0.1's citation edges as K = 1, 10, 100 disjoint replicas
  (:func:`stage_edges` into ``benchdata/edges_xK``).

``corpus:1,10`` and ``edges:1,10`` pick the K of those ladders; the
first must be 1, the point every check compares against.

NAME is a registered query or a unit of :data:`UNITS`. Per point: one
untimed warm run, the unit's untimed facts (:data:`FACTS`), then 3
timed runs, median. Every run is ``tools/ab.run_query``: clear the SQL
cache, build, drain to the noop sink, count the jobs, then take the
untimed digest, whose row count is the point's output rows; the four
digests of a point must be equal. On ``corpus`` and ``edges`` each
point's facts must pass the name's checks (:data:`CHECKS`) against the
1× point, or the run stops: a curve over a construction that leaked
measures the leak. The report gives per name the points and the adjacent-point
ratios, ``k_x`` against ``time_x``: 10× input in 10× time is linear.

The driver heap is ``SPARK_GRAFT_DRIVER_MEM`` when set, else the A/B
workers' rule (``tools/ab.worker_env``): a quarter of the host's
memory, clamped to 1g-8g.

Core scaling is two runs over one input, at two core counts (each
report records its ``local[N]`` master); the ratio of their medians is
the speed-up:

  SPARK_GRAFT_CPUS=8  python tools/scale.py Q ... --inputs benchdata/sf1 --json c8.json
  SPARK_GRAFT_CPUS=32 python tools/scale.py Q ... --inputs benchdata/sf1 --json c32.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from mapreduce_citation_spark.operators.dedup import (  # noqa: E402
    _docs,
    incremental_ingest_report,
)
from mapreduce_citation_spark.operators.graph import (  # noqa: E402
    WALK_LEN,
    connected_components,
    edges_from_lineitem,
    pagerank_fixed_point,
    random_walks,
)
from mapreduce_citation_spark.sources.readers import load_table  # noqa: E402
from tools.ab import run_query, worker_env  # noqa: E402
from tools.gen_corpus import BASE, generate, generate_embeddings  # noqa: E402

BENCHDATA = os.path.join(ROOT, "benchdata")
REPLICAS = (1, 10, 100)
RUNS = 3
#: replica r of the edge list offsets every node id by r · stride, far
#: above sf0.1's largest id (~600k): replicas are disjoint subgraphs,
#: each identical to the base
NODE_STRIDE = 10_000_000
#: replica 0's ``%8`` cohort: 625 docs at every corpus point
#: (``tools/gen_corpus.py``'s doc-id stride is 10000)
DELTA_DOCS = 625


def fixture_ladder() -> list[str]:
    dirs = [os.path.join(os.path.dirname(BASE), f"sf{sf}")
            for sf in ("0.001", "0.01", "0.1")]
    sf1 = os.path.join(BENCHDATA, "sf1")
    return dirs + [sf1] if os.path.isdir(sf1) else dirs


def stage_edges(spark, k: int, src: str = BASE, root: str = BENCHDATA) -> str:
    """``src``'s citation edges as ``k`` disjoint replicas, written once
    to ``root/edges_xK/edges.parquet`` and reused after."""
    out = os.path.join(root, f"edges_x{k}", "edges.parquet")
    if not os.path.exists(out):
        rep = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("r")
        shifted = [
            (F.col(c).cast("long") + F.col("r") * NODE_STRIDE).cast("string").alias(c)
            for c in ("from_paper", "to_paper")
        ]
        (
            edges_from_lineitem(load_table(spark, src, "lineitem"))
            .select("from_paper", "to_paper", rep)
            .select(*shifted)
            .write.mode("overwrite")
            .parquet(out + ".tmp")
        )
        os.rename(out + ".tmp", out)
    return out


def stage_corpus(k: int) -> str:
    """sf0.1's documents and embeddings ×``k`` (1× is sf0.1 itself)."""
    if k == 1:
        return BASE
    out = os.path.join(BENCHDATA, f"corpus_x{k}")
    generate(out, k, BASE)
    generate_embeddings(out, k, BASE)
    return out


def ladder(spark, spec: str) -> list[tuple[str, float]]:
    """(input, K) points of ``--inputs``."""
    kind, _, ks = spec.partition(":")
    if kind in ("corpus", "edges"):
        ks = [int(k) for k in ks.split(",")] if ks else REPLICAS
        if ks[0] != 1:
            raise ValueError(f"--inputs {spec}: the first K must be 1")
        stage = stage_corpus if kind == "corpus" else lambda k: stage_edges(spark, k)
        return [(stage(k), k) for k in ks]
    import pyarrow.dataset as ds

    dirs = [os.path.realpath(d) for d in spec.split(",")]
    rows = [ds.dataset(os.path.join(d, "lineitem.parquet")).count_rows() for d in dirs]
    return [(d, round(n / rows[0], 3)) for d, n in zip(dirs, rows)]


# --- units: the package's graph cores and the fixed-delta ingest ------


def _delta_pred():
    return (F.col("doc_id") < 10000) & (F.col("doc_id") % 8 == 0)


def ingest_fixed_delta(spark, inp: str):
    """The operator's own claim, cost with the batch and not with base²:
    a constant batch (replica 0's ``%8`` cohort) against a base that
    grows with K. The registered ``%8`` query grows its delta with the
    corpus. The base's digests, shingle frequencies and prefixes are
    derived here from the corpus, so wall time still grows ~linearly in
    base; the candidate join is delta-prefix × base-prefix."""
    return incremental_ingest_report(_docs(spark, inp), _delta_pred())


UNITS = {
    # the scale-mode BIGINT arithmetic benched as citation_pagerank_scale
    "pagerank_fixed_point_6it":
        lambda spark, inp: pagerank_fixed_point(spark.read.parquet(inp), iterations=6),
    # the citation_components core
    "connected_components":
        lambda spark, inp: connected_components(spark.read.parquet(inp)),
    # citation_random_walks's core: 4 hash-picked hops
    "random_walks": lambda spark, inp: random_walks(spark.read.parquet(inp)),
    "ingest_fixed_delta": ingest_fixed_delta,
}


# --- facts: untimed, per point, for the checks; ``fn`` builds the output


def _edge_facts(spark, fn, inp: str) -> dict:
    return {"edges": spark.read.parquet(inp).count()}


def _component_facts(spark, fn, inp: str) -> dict:
    return {**_edge_facts(spark, fn, inp),
            "components": fn(spark, inp).select("component").distinct().count()}


def _walk_facts(spark, fn, inp: str) -> dict:
    """Walks that leave their start node's replica: node ids of replica
    r live in [r · stride, (r + 1) · stride)."""
    hops = " OR ".join(
        f"CAST(v{j} AS BIGINT) div {NODE_STRIDE} != CAST(start AS BIGINT) div {NODE_STRIDE}"
        for j in range(1, WALK_LEN + 1)
    )
    return {"crossers": fn(spark, inp).filter(hops).count()}


def _dup_sum_facts(spark, fn, inp: str) -> dict:
    sums = fn(spark, inp).selectExpr("CAST(sum(n_dup_paras) AS BIGINT)")
    return {"dup_sum": sums.first()[0]}


def _funnel_facts(spark, fn, inp: str) -> dict:
    return {"stages": {r["stage"]: r["n_docs"] for r in fn(spark, inp).collect()}}


def _ingest_facts(spark, fn, inp: str) -> dict:
    return {
        "delta": _docs(spark, inp).filter(_delta_pred()).count(),
        "rejections": sorted([r.doc_id, r.reason] for r in fn(spark, inp).collect()),
    }


FACTS = {
    "pagerank_fixed_point_6it": _edge_facts,
    "connected_components": _component_facts,
    "random_walks": _walk_facts,
    "ingest_fixed_delta": _ingest_facts,
    "dedup_paragraph_neardup": _dup_sum_facts,
    "dedup_paragraph_ingest": _dup_sum_facts,
    "corpus_curation_funnel": _funnel_facts,
}


# --- checks: each point (``k`` and its facts) against the 1× point ---


def _require(ok: bool, msg: str) -> None:
    """Fail a check; unlike ``assert`` this holds under ``python -O``."""
    if not ok:
        raise AssertionError(msg)


def exact(*keys: str):
    """Each fact in ``keys`` is exactly K × the 1× point's."""
    def check(pt: dict, base: dict) -> None:
        for key in keys:
            _require(pt[key] == base[key] * pt["k"],
                     f"{key} {pt[key]} at {pt['k']}x != {pt['k']} * {base[key]}: "
                     "the construction leaked")
    check.__name__ = f"exact({', '.join(keys)})"
    return check


def near(key: str):
    """``key`` within ±5 % of K × the 1× point's: banded LSH recall of
    the replica-invariant true pairs fluctuates per replica."""
    def check(pt: dict, base: dict) -> None:
        want = base[key] * pt["k"]
        _require(abs(pt[key] - want) <= 0.05 * want,
                 f"{key} {pt[key]} at {pt['k']}x vs {want}: beyond LSH recall "
                 "fluctuation, the construction leaked")
    check.__name__ = f"near({key})"
    return check


def nonzero(key: str):
    """``key`` is positive at 1×: a zero base sum makes ``near`` vacuous."""
    def check(pt: dict, base: dict) -> None:
        _require(bool(base[key]) and base[key] > 0, f"{key} is {base[key]} at 1x")
    check.__name__ = f"nonzero({key})"
    return check


def fixed_rows(n: int):
    """The output has ``n`` rows at every K."""
    def check(pt: dict, base: dict) -> None:
        _require(pt["rows"] == n, f"{pt['rows']} rows at {pt['k']}x, not the fixed {n}")
    check.__name__ = f"fixed_rows({n})"
    return check


def planted_floor(n: int):
    """At least ``n`` · K rows: each replica's planted pairs must pair;
    incidental near-pairs may add."""
    def check(pt: dict, base: dict) -> None:
        _require(pt["rows"] >= n * pt["k"],
                 f"{pt['rows']} rows at {pt['k']}x < planted floor {n * pt['k']}")
    check.__name__ = f"planted_floor({n})"
    return check


def funnel_stages(pt: dict, base: dict) -> None:
    """5 stages, monotone non-increasing, stage 0 exactly 5,000 · K."""
    stages = pt["stages"]
    _require(len(stages) == 5, f"expected 5 stages, got {stages}")
    counts = [stages[s] for s in sorted(stages)]
    _require(counts == sorted(counts, reverse=True), f"stages not monotone: {stages}")
    _require(stages["0_total"] == 5000 * pt["k"],
             f"stage 0_total {stages['0_total']} at {pt['k']}x")


def walks_contained(pt: dict, base: dict) -> None:
    """No walk leaves its start node's replica."""
    _require(pt["crossers"] == 0, f"{pt['crossers']} walks crossed replicas at {pt['k']}x")


def fixed_delta(pt: dict, base: dict) -> None:
    """The delta batch is the same 625 docs at every K."""
    _require(pt["delta"] == DELTA_DOCS,
             f"delta not fixed: {pt['delta']} docs at {pt['k']}x, not {DELTA_DOCS}")


def same_rejections(pt: dict, base: dict) -> None:
    """A growing base of unrelated replicas changes neither which delta
    docs are rejected nor why, row for row."""
    _require(pt["rejections"] == base["rejections"],
             f"rejection set drifted at {pt['k']}x ({len(pt['rejections'])} vs "
             f"{len(base['rejections'])} rows): the construction leaked")


#: name -> the checks each replicated point must pass. The corpus
#: replicas are per-replica char bijections (embeddings: signed
#: coordinate permutations) that preserve within-replica structure and
#: share no shingles or grams across replicas; the edge replicas are
#: disjoint copies of one graph.
CHECKS = {
    # pair streams that are exact per-replica properties
    "dedup_exact_substring_pairs": (exact("rows"),),
    "decontaminate_eval_overlap": (exact("rows"),),
    # spans/strip emit one row per input doc
    "dedup_substring_spans": (exact("rows"),),
    "dedup_substring_strip": (exact("rows"),),
    # per-replica jaccard pairs are bijection-invariant; no
    # cross-replica shingles exist, so pairs scale exactly x K
    "dedup_ngram_jaccard": (exact("rows"),),
    # within-replica rejections are bijection-invariant and replicas
    # share neither digests nor shingles
    "dedup_incremental_ingest": (exact("rows"),),
    # packing emits one row per doc; chunk counts are whitespace-
    # preserving-bijection-invariant
    "corpus_sequence_packing": (exact("rows"),),
    "doc_chunk_windows": (exact("rows"),),
    # one row per doc / per >=2-token doc; token counts are whitespace-
    # preserving-bijection-invariant
    "text_boilerplate_strip": (exact("rows"),),
    "text_bigram_surprisal": (exact("rows"),),
    # EPOCHS rows per doc
    "corpus_epoch_shuffle": (exact("rows"),),
    "corpus_epoch_packed_shuffle": (exact("rows"),),
    # one report row per doc; the real falsifier is the removed-
    # paragraph sum, near-linear like dedup_minhash_lsh
    "dedup_paragraph_neardup": (exact("rows"), nonzero("dup_sum"), near("dup_sum")),
    # one row per doc each. DSIR's per-doc weights legitimately change
    # with K (the bucket counts are global), so rows are its only check
    "dedup_paragraph_strip": (exact("rows"),),
    "corpus_dsir_weights": (exact("rows"),),
    "text_dup_paragraph_stats": (exact("rows"),),
    # one report row per %8 delta doc (8 divides the replica stride);
    # the removed-paragraph sum is near-linear like the neardup twin
    "dedup_paragraph_ingest": (exact("rows"), nonzero("dup_sum"), near("dup_sum")),
    # only NEAR-linear: banded LSH recall depends on the hash space, and
    # each replica's shingle strings hash differently, so per-replica
    # recall of the replica-invariant true-pair set fluctuates ~±1 %
    "dedup_minhash_lsh": (near("rows"),),
    # audio fingerprints are NOT bijection-invariant (energies move
    # with the char map): each replica's 50 planted variants must pair
    "multimodal_audio_fp_pairs": (planted_floor(50),),
    "multimodal_audio_fp128_pairs": (planted_floor(50),),
    # within-replica gram identity IS bijection-invariant, so it is
    # near-linear like dedup_minhash_lsh, on top of the planted floor
    "multimodal_audio_minhash_pairs": (near("rows"), planted_floor(500)),
    # a fixed 3-row merge table at any corpus size
    "text_bpe_merges": (fixed_rows(3),),
    # the queries stay the 10 base vectors while the searched corpus
    # grows: top-5 x 10 queries / k=8 cluster summaries
    "knn_ivf_ann": (fixed_rows(50),),
    "embedding_kmeans": (fixed_rows(8),),
    # the Gopher quality gate is NOT char-bijection-invariant (rotated
    # replicas mostly fail stage 1), so survivors do not scale x K; the
    # heavy work (stage-1 scan, MinHash clusters, decontamination
    # grams) still runs over the full x K corpus
    "corpus_curation_funnel": (funnel_stages,),
    # disjoint identical replicas: every node, and every component,
    # appears K times (rows are pagerank's nodes, the labeled nodes)
    "pagerank_fixed_point_6it": (exact("edges", "rows"),),
    "connected_components": (exact("edges", "rows", "components"),),
    # one walk per node
    "random_walks": (exact("rows"), walks_contained),
    # replicas share neither digests nor shingles with replica 0, and
    # replica 0's shingle frequencies never change as the base grows
    "ingest_fixed_delta": (fixed_delta, same_rejections),
}


def curve(spark, name: str, points: list[tuple[str, float]],
          checked: bool = False) -> dict:
    """Time ``name`` at every point; with ``checked``, stop at the
    first point whose facts fail a check against the first point."""
    from mapreduce_citation_spark.registry import all_specs

    fn = UNITS[name] if name in UNITS else all_specs()[name].fn
    out: list[dict] = []
    for inp, k in points:
        warm = run_query(spark, fn, inp)
        pt = {"input": inp, "k": k, "rows": warm["digest"][0]}
        if name in FACTS:
            pt.update(FACTS[name](spark, fn, inp))
        for check in CHECKS.get(name, ()) if checked else ():
            check(pt, out[0] if out else pt)
        runs = [run_query(spark, fn, inp) for _ in range(RUNS)]
        digests = {tuple(r["digest"]) for r in [warm, *runs]}
        _require(len(digests) == 1, f"{name} x{k}: digests differ between runs: {digests}")
        secs = [round(r["sec"], 3) for r in runs]
        pt.update(sec=statistics.median(secs), runs_s=secs,
                  jobs=[r["jobs"] for r in runs], digest=warm["digest"])
        out.append(pt)
        print(f"  {name} x{k}: {pt['sec']}s, {pt['jobs'][0]} jobs, "
              f"{pt['rows']} rows", file=sys.stderr, flush=True)
    return {"points": out, "ratios": [
        {"k_x": round(hi["k"] / lo["k"], 1), "time_x": round(hi["sec"] / lo["sec"], 2)}
        for lo, hi in zip(out, out[1:])
    ]}


def main(argv: list[str]) -> int:
    from mapreduce_citation_spark.registry import all_specs

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+", help="registered queries or units")
    ap.add_argument("--inputs", default=",".join(fixture_ladder()),
                    help="fixture dirs (comma list), corpus or edges")
    ap.add_argument("--json", help="also write the report here")
    args = ap.parse_args(argv)
    unknown = [n for n in args.names if n not in UNITS and n not in all_specs()]
    if unknown:
        ap.error(f"not a registered query or unit: {' '.join(unknown)}")

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = worker_env(os.environ)["SPARK_GRAFT_DRIVER_MEM"]
    from bench import _calibrate
    from mapreduce_citation_spark.session import get_spark

    spark = get_spark("scale")
    spark.sparkContext.setLogLevel("ERROR")
    points = ladder(spark, args.inputs)
    report = {"inputs": args.inputs, "master": spark.sparkContext.master,
              "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
              "cal": _calibrate(), "names": {}}
    for name in args.names:
        report["names"][name] = curve(
            spark, name, points,
            checked=args.inputs.partition(":")[0] in ("corpus", "edges"),
        )
    print(json.dumps(report, indent=1))
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
