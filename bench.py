"""Benchmark harness — the driver runs this per-round at sf0.1.

Runs the registry's bench-flagged headline queries on
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) with
``local[$SPARK_GRAFT_CPUS]`` and prints exactly ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Each query is executed to completion (results drained via the noop
sink) — timings measure the full distributed plan, not lazy
construction. Each query gets a cache-isolated block: clearCache, one
untimed rewarm (primes JVM/codegen AND the query's own persisted
frames), then FIVE timed runs with the MEDIAN reported — a single GC
pause or compilation stall on a contended 32-thread local JVM must
not masquerade as a plan regression (round 1: the driver measured
q3 at 31.3s single-shot; it reproduces at 1.1s warm).

PAIRS MODE (default since r13): the whole headline set runs TWICE in
the same session and the reported per-query number (and every compare
flag) is the pairwise MIN of the two medians — the r12 same-day pair
proved single-run flags ~50% noise on this drifting VM. The full
artifact keeps both passes (queries_pass1/queries_pass2);
SPARK_GRAFT_BENCH_PAIRS=0 or --single restores the single-pass run.

Usage: python bench.py [--json PATH]  (writes the same JSON to PATH
for per-round committing — the driver preserves only a stdout tail).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _calibrate() -> dict[str, float]:
    """~0.5 s CPU-throughput probe (single thread + all threads).

    This box is a VM whose effective parallel CPU capacity varies
    several-fold between measurement windows (host neighbors are
    invisible from the guest). The probe is recorded alongside the
    timings so a cross-round wall-time delta can be attributed to
    host capacity vs plan changes: aggregate throughput / single
    thread ≈ the cores actually available to the 32-thread JVM."""
    import hashlib
    from concurrent.futures import ThreadPoolExecutor

    def work(mb: int) -> None:
        h = hashlib.sha256()
        for _ in range(mb):
            h.update(b"x" * 1_000_000)

    t0 = time.perf_counter()
    work(50)
    one = 50 / (time.perf_counter() - t0)
    n = os.cpu_count() or 1
    t0 = time.perf_counter()
    with ThreadPoolExecutor(n) as ex:
        list(ex.map(work, [50] * n))
    alln = n * 50 / (time.perf_counter() - t0)
    return {
        "cal_1t_mbps": round(one),
        "cal_all_mbps": round(alln),
        "cal_effective_cores": round(alln / one, 1),
    }


def _current_round(here: str | None = None) -> int | None:
    """This round's number, inferred from VERDICT.md's header line
    (``# VERDICT — round N`` → current round is N+1). Used to keep the
    compare baseline strictly in a PRIOR round: r10's committed compare
    blocks named THEMSELVES as baseline because an earlier same-round
    artifact with the same name was the newest usable file (r10 verdict
    #3) — an r11 run must baseline against an r10 artifact."""
    import re

    if here is None:
        here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "VERDICT.md")) as fh:
            m = re.search(r"round\s+(\d+)", fh.readline())
        return int(m.group(1)) + 1 if m else None
    except OSError:
        return None


def _prior_artifact(
    sf: float, here: str | None = None
) -> tuple[str, dict, list[str]] | None:
    """Latest committed BENCH_r*.json for the SAME scale factor —
    the baseline for the mechanical drift-envelope block (r8 verdict,
    next-round #8: stop hand-computing cal-normalized ratios in
    SCALE.md prose).

    Driver-recorded artifacts can be unusable — r9's had
    ``parsed: null`` plus a truncated 2 KB stdout tail — so the loader
    tolerates any malformed shape and falls back to the newest USABLE
    artifact at the same SF (typically the locally committed
    ``BENCH_r{N}_sf*.json``), returning the unusable newer files so
    the compare block can say which baselines were skipped (r9
    verdict #8)."""
    import glob
    import re

    best: tuple[int, str, dict] | None = None
    candidates: list[tuple[int, str, dict | None]] = []
    if here is None:
        here = os.path.dirname(os.path.abspath(__file__))
    paths = [
        (p, re.match(r"BENCH_r(\d+)", os.path.basename(p)))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
    ]
    paths = [(p, int(m.group(1))) for p, m in paths if m]
    current = _current_round(here)
    if current is None and paths:
        # VERDICT.md missing/unparseable (r11 ADVICE): never silently
        # skip the same-round filter — conservatively treat the
        # max-numbered artifact round as the current one, so this run
        # can never baseline against a same-round file again (the r10
        # self-baseline bug this filter exists to prevent)
        current = max(rnd for _, rnd in paths)
    for path, rnd in paths:
        if current is not None and rnd >= current:
            # same-round (or future) artifact — never a baseline
            continue
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, json.JSONDecodeError, ValueError):
            candidates.append((rnd, path, None))
            continue
        # driver-recorded rounds wrap the bench line under "parsed"
        # (possibly null); locally-run artifacts are the raw line
        if isinstance(data, dict):
            data = data.get("parsed", data)
        if not isinstance(data, dict) or "queries" not in data:
            candidates.append((rnd, path, None))
            continue
        if data.get("sf") != sf:
            continue
        candidates.append((rnd, path, data))
    for rnd, path, data in candidates:
        if data is not None and (best is None or rnd > best[0]):
            best = (rnd, path, data)
    if best is None:
        return None
    skipped = [
        os.path.basename(p)
        for rnd, p, data in candidates
        if data is None and rnd >= best[0]
    ]
    return os.path.basename(best[1]), best[2], sorted(skipped)


def _compare_block(
    timings: dict[str, float], cal: dict[str, float], sf: float
) -> dict | None:
    """Per-query raw and cal-normalized ratios vs the prior committed
    artifact. Normalized ratio scales the raw ratio by the window's
    measured CPU capacity (time × throughput ≈ work): ``norm_1t``
    uses the single-thread probe, ``norm_all`` the all-threads probe.

    Flag rule (r11 verdict #2 — pytest-pinned in tests/test_registry):
    both raw AND normalized ratios are recorded for every entry, and

    - ``prior_sec < 1 s``: flagged only when BOTH normalized ratios
      exceed 1.2 — sub-second wall time is dominated by fixed per-job
      scheduling overhead, so the raw ratio in a starved window is
      noise (r10's salted join and r11's flagship pair were both raw
      flags of exactly this class, both adjudicated drift);
    - ``prior_sec >= 1 s``: flagged only when the raw ratio AND both
      normalized ratios exceed 1.2 — a long query's raw time is the
      trustworthy measurement (overhead amortized), so a regression
      must show up raw, not only after normalization (which would
      otherwise fabricate flags in a fast window).

    A raw ratio alone never proves a regression on this drifting VM;
    a flag is adjudicated by an interleaved A/B against the baseline's
    revision (``python tools/ab.py REV NAME``), this only picks which
    flags demand it."""
    prior = _prior_artifact(sf)
    if prior is None:
        return None
    fname, base, skipped = prior
    c1 = cal["cal_1t_mbps"] / base.get("cal_1t_mbps", cal["cal_1t_mbps"])
    ca = cal["cal_all_mbps"] / base.get("cal_all_mbps", cal["cal_all_mbps"])
    queries: dict[str, dict] = {}
    flagged: list[str] = []
    for name, sec in timings.items():
        psec = base["queries"].get(name)
        if not psec:
            continue
        raw = sec / psec
        entry = {
            "prior_sec": psec,
            "ratio_raw": round(raw, 3),
            "ratio_norm_1t": round(raw * c1, 3),
            "ratio_norm_all": round(raw * ca, 3),
        }
        norm_beyond = (
            entry["ratio_norm_1t"] > 1.2 and entry["ratio_norm_all"] > 1.2
        )
        if norm_beyond and (psec < 1.0 or entry["ratio_raw"] > 1.2):
            entry["beyond_envelope"] = True
            flagged.append(name)
        queries[name] = entry
    block = {
        "baseline": fname,
        # r14 (r13 ADVICE): a pairs-mode run compared against a
        # single-pass baseline carries min-of-two-medians bias ON TOP
        # of the cal ratio, so the insensitivity note (below) models
        # only part of the regression-miss window. Record the
        # baseline's mode so the judge can see mixed-mode compares.
        "baseline_pairs_mode": bool(base.get("pairs_mode")),
        "cal_1t_ratio": round(c1, 3),
        "cal_all_ratio": round(ca, 3),
        "beyond_envelope": sorted(flagged),
        "queries": queries,
    }
    # r13 (r12 ADVICE): in a window measurably FASTER than the
    # baseline's (cal ratio up), a genuine long-query regression R
    # shows raw ≈ R / cal — for psec >= 1 s the raw > 1.2 requirement
    # then structurally suppresses every R <= 1.2 × cal. The rule
    # still trades missed regressions for fewer fabricated flags, but
    # the run must SAY it was insensitive rather than read as a clean
    # bill of health.
    cal_up = max(c1, ca)
    if cal_up > 1.25:
        block["long_query_flags_insensitive_below"] = round(1.2 * cal_up, 2)
        block["insensitive_note"] = (
            f"window ~{cal_up:.2f}x faster than baseline's: long-query "
            f"(>=1s) regressions below ~{1.2 * cal_up:.2f}x raw work are "
            f"structurally unflaggable this run"
        )
    if skipped:
        # newer artifacts that existed but were unusable (truncated
        # driver tail / parsed: null) — the baseline above is the
        # newest USABLE one at this SF
        block["skipped_unusable"] = skipped
    return block


def _compact_line(out: dict, limit: int = 1900) -> str:
    """Compact artifact line guaranteed under ``limit`` bytes (driver
    tail is ~2 KB). Carries the full driver contract
    (metric/value/unit/queries/sf) plus the cal probe and a compare
    digest (baseline, flag count + names, worst-3 raw ratios). Trims
    least-essential fields first if the query set ever grows past the
    budget: flagged names → whole digest → per-query timings."""
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": dict(out["queries"]),
        "sf": out["sf"],
        **{k: v for k, v in out.items() if k.startswith("cal_")},
    }
    if out.get("pairs_mode"):
        compact["pairs"] = True
    compare = out.get("compare")
    if compare is not None:
        worst = sorted(
            compare["queries"].items(), key=lambda kv: -kv[1]["ratio_raw"]
        )[:3]
        # every flag carries BOTH its raw and cal-normalized (norm_all)
        # ratio (r11 verdict #2): the digest is what the judge reads,
        # and a 7.6x raw that is 3.4x normalized in a cal-1.4-core
        # window tells a different story than the raw number alone
        compact["compare_digest"] = {
            "baseline": compare["baseline"],
            "n_flagged": len(compare["beyond_envelope"]),
            "flagged": {
                n: [
                    compare["queries"][n]["ratio_raw"],
                    compare["queries"][n]["ratio_norm_all"],
                ]
                for n in compare["beyond_envelope"]
            },
            "worst3_raw_norm": {
                n: [e["ratio_raw"], e["ratio_norm_all"]] for n, e in worst
            },
        }
        if "long_query_flags_insensitive_below" in compare:
            compact["compare_digest"]["insensitive_below"] = compare[
                "long_query_flags_insensitive_below"
            ]
    line = json.dumps(compact)
    if len(line) > limit and "compare_digest" in compact:
        compact["compare_digest"].pop("flagged")
        line = json.dumps(compact)
    if len(line) > limit:
        compact.pop("compare_digest", None)
        line = json.dumps(compact)
    if len(line) > limit:  # last resort: headline only, always fits
        compact["queries"] = {"omitted_for_size": len(out["queries"])}
        line = json.dumps(compact)
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"

    from mapreduce_citation_spark.registry import bench_queries
    from mapreduce_citation_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = bench_queries()
    # window context BEFORE the run too (r12): the post-run probe
    # alone misattributes — this VM's capacity swings WITHIN a 36-query
    # run (r12: top_cited benched 2.8 s early in a run whose END probe
    # read 3.0 effective cores, while a dedicated rerun minutes later
    # measured cal_all 831 — the starved window had moved through
    # mid-run). Two probes bound the window; normalization still uses
    # the post-run probe (closest to most queries, keeps the rule
    # comparable to prior rounds).
    cal_pre = _calibrate()

    def drain(df) -> None:
        # noop sink: computes EVERY output column and discards rows on
        # the executors. count() is NOT a valid drain — Catalyst prunes
        # projections and can eliminate whole joins under it (found in
        # r6: the substring spans/strip left join against a unique-key
        # aggregate was being optimized away, so their bench entries
        # timed only the eager cache fill — and in r5, ONLY that fill).
        df.write.format("noop").mode("overwrite").save()

    def run_pass() -> dict[str, float]:
        timings: dict[str, float] = {}
        for name, spec in specs.items():
            # Per-query isolation (r9): clear the SQL cache registry
            # before each query's timed block, then re-warm the query
            # once (untimed) so its timed runs see their own warm cache
            # AND a JIT/codegen-warm JVM (CacheManager dedups by
            # analyzed plan). Several bench operators persist
            # corpus-sized frames a lazy query function cannot
            # unpersist itself (minhash signatures, ingest shingle
            # streams/prefixes); letting them sit co-resident
            # contaminated unrelated sf1 timings (7 spurious
            # beyond-envelope flags in the first r9 sf1 run). The old
            # GLOBAL all-queries warmup pass is gone (r10, r9 ADVICE):
            # the per-query rewarm already provides its JIT benefit,
            # and the global pass only doubled bench runtime while
            # briefly recreating the exact co-residency the clear
            # exists to remove.
            spark.catalog.clearCache()
            drain(spec.fn(spark, sf_dir))
            runs: list[float] = []
            counts: set[int] = set()
            for i in range(5):
                t0 = time.perf_counter()
                df = spec.fn(spark, sf_dir)
                drain(df)
                runs.append(time.perf_counter() - t0)
                if i < 2:  # untimed determinism spot-check (first two)
                    counts.add(df.count())
            # real sanity gate: a deterministic query over static
            # parquet must return the same row count on every run
            assert len(counts) == 1, f"{name}: unstable row count {counts}"
            timings[name] = round(sorted(runs)[2], 3)
        return timings

    # Pairs mode (r13, r12 verdict #6): the r12 same-day same-code pair
    # proved single-run flags are ~50% noise even with the split rule
    # (per-query spread 0.17x-3.94x across windows). Running the whole
    # headline set TWICE in one session and taking the per-query
    # pairwise MIN drops flags to the reproducible ones — a genuine
    # plan regression is slow in both passes; a window stall rarely
    # hits the same query twice. Disable with SPARK_GRAFT_BENCH_PAIRS=0
    # or --single (halves runtime, restores single-pass medians).
    pairs = (
        os.environ.get("SPARK_GRAFT_BENCH_PAIRS", "1") != "0"
        and "--single" not in sys.argv
    )
    pass1 = run_pass()
    if pairs:
        pass2 = run_pass()
        timings = {n: min(pass1[n], pass2[n]) for n in pass1}
    else:
        pass2 = None
        timings = pass1

    cal = _calibrate()
    out = {
        "metric": "headline query wall time at sf" + sf,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        **cal,
        **{k.replace("cal_", "cal_pre_"): v for k, v in cal_pre.items()},
    }
    if pairs:
        out["pairs_mode"] = True
        out["queries_pass1"] = pass1
        out["queries_pass2"] = pass2
    compare = _compare_block(timings, cal, float(sf))
    if compare is not None:
        out["compare"] = compare
    print(json.dumps(out))
    # optional local artifact (r9 verdict #4: the driver keeps only a
    # 2 KB stdout tail, so commit the full JSON alongside it)
    if "--json" in sys.argv:
        with open(sys.argv[sys.argv.index("--json") + 1], "w") as fh:
            json.dump(out, fh, indent=1)
    # FINAL compact line (r10 verdict #2): the driver records only the
    # LAST ~2 KB of stdout, and the full line above overflows that tail
    # (r9/r10 driver artifacts read ``parsed: null`` with the compare
    # list truncated mid-entry). This last line repeats the full driver
    # contract (metric/value/unit/queries/sf) plus a compare digest and
    # is size-guarded under 2 KB so the preserved tail always ends in
    # one complete, parseable JSON artifact.
    print(_compact_line(out))


if __name__ == "__main__":
    main()
