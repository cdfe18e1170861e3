"""Two-revision A/B: registered queries at a git revision (the base)
against the working tree that holds this file (the change), uncommitted
edits included.

Usage:
  python tools/ab.py BASE_REV NAME [NAME ...] [--sf-dir DIR] [--json PATH]
  python tools/ab.py --plans BASE_REV NAME [NAME ...] [--sf-dir DIR]

The base side is ``git archive BASE_REV`` unpacked into a temp dir.
Each side runs in its own long-lived worker process and JVM (this file
re-invoked with ``--worker``) that imports the package from its own
tree only, so session confs and checkpoint releases cannot leak from
one side into the other. A conf A/B: edit the conf in the working
tree, then run ``ab.py HEAD NAME``.

Each worker's driver heap is ``SPARK_GRAFT_DRIVER_MEM`` when set, else
a quarter of the host's memory clamped to 1g-8g (``worker_env``):
two JVMs at the session's 8g default next to a third JVM can exhaust a
16 GB host.

Per query: one untimed warm run per side, then 5 pairs, alternating
base/change and change/base. A run clears the SQL cache, then builds
the frame and drains it to the noop sink, counting every job the JVM
launched meanwhile (streaming micro-batches included), then takes an
untimed digest: row count plus the decimal sum of ``xxhash64`` over
the sorted columns. The JSON report gives per side
the runs, median, q1-q3 and jobs per run, and the change's pairwise
wins. ``--plans`` diffs ``explain("formatted")`` of the two sides
after normalising the run-dependent ids. Either mode exits 1, naming
the query, when digests or plans differ.
"""

from __future__ import annotations

import argparse
import difflib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

CHANGE_TREE = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
SIDES = ("base", "change")
PAIRS = 5


def normalize_plan(plan: str) -> str:
    """Strip the ids that differ between two runs of one revision:
    ``[plan_id=N]``, expression ids ``#N`` and the ``localCheckpoint``
    scan's ``RDD[N]`` (it counts the RDDs the session made before)."""
    plan = re.sub(r",? ?\[plan_id=\d+\]", "", plan)
    plan = re.sub(r"#\d+L?", "#", plan)
    return re.sub(r"RDD\[\d+\]", "RDD[N]", plan)


def worker_env(environ: dict, meminfo: str = "/proc/meminfo") -> dict:
    """A worker's environment: ``environ``, plus, when it sets no
    ``SPARK_GRAFT_DRIVER_MEM``, a driver heap of a quarter of the
    host's ``MemTotal`` clamped to 1g-8g (in MiB)."""
    env = dict(environ)
    if "SPARK_GRAFT_DRIVER_MEM" not in env:
        with open(meminfo) as fh:
            kib = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
        env["SPARK_GRAFT_DRIVER_MEM"] = f"{min(8192, max(1024, kib // 4 // 1024))}m"
    return env


def run_query(spark, fn, sf_dir: str) -> dict:
    """One timed run of a registered query function: build + noop
    drain seconds, the jobs launched meanwhile, and the digest.

    Jobs are the difference of the scheduler's job-id counter across
    build and drain, so jobs of every thread count — the micro-batches
    of a stream run under the stream's own job group. Exact as long as
    the JVM runs one query at a time, which a worker does."""
    from pyspark.sql import functions as F

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    spark.catalog.clearCache()
    jobs0, t0 = dag.numTotalJobs(), time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    sec = time.perf_counter() - t0
    jobs = dag.numTotalJobs() - jobs0
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")),
    ).first()
    return {"sec": sec, "jobs": jobs, "digest": [int(row[0]), int(row[1] or 0)]}


def worker(tree: str, sf_dir: str) -> None:
    """Answer one ``run NAME`` or ``plan NAME`` per stdin line with one
    JSON line, using the package in ``tree``."""
    out = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)  # stray prints and the JVM's stdout go to stderr
    sys.path.insert(0, tree)
    os.chdir(tree)
    import mapreduce_citation_spark as pkg

    if not os.path.realpath(pkg.__file__).startswith(os.path.join(tree, "")):
        raise SystemExit(f"worker for {tree} imported {pkg.__file__}")
    from mapreduce_citation_spark.plans.explain import explain_str
    from mapreduce_citation_spark.registry import all_specs
    from mapreduce_citation_spark.session import get_spark

    spark = get_spark("ab")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    for line in sys.stdin:
        cmd, name = line.split()
        if cmd == "plan":
            spark.catalog.clearCache()
            plan = explain_str(specs[name].fn(spark, sf_dir), "formatted")
            reply = {"plan": normalize_plan(plan)}
        else:
            reply = run_query(spark, specs[name].fn, sf_dir)
        out.write(json.dumps(reply) + "\n")


def ask(procs: dict, side: str, cmd: str, name: str) -> dict:
    proc = procs[side]
    proc.stdin.write(f"{cmd} {name}\n")
    proc.stdin.flush()
    line = proc.stdout.readline()
    if not line:
        raise SystemExit(f"{name}: the {side} worker exited (its stderr is above)")
    return json.loads(line)


def summary(runs: list[dict]) -> dict:
    secs = [round(r["sec"], 3) for r in runs]
    q1, med, q3 = statistics.quantiles(secs, n=4, method="inclusive")
    return {"runs_s": secs, "median_s": med, "q1_s": q1, "q3_s": q3,
            "jobs": [r["jobs"] for r in runs]}


def time_query(procs: dict, name: str) -> dict:
    warm = {s: ask(procs, s, "run", name) for s in SIDES}
    runs: dict[str, list[dict]] = {s: [] for s in SIDES}
    for i in range(PAIRS):
        for side in SIDES if i % 2 == 0 else SIDES[::-1]:
            runs[side].append(ask(procs, side, "run", name))
            print(f"  {name} {side}: {runs[side][-1]['sec']:.2f}s",
                  file=sys.stderr, flush=True)
    digests = {tuple(r["digest"]) for s in SIDES for r in [warm[s], *runs[s]]}
    return {
        **{s: summary(runs[s]) for s in SIDES},
        "change_wins": sum(c["sec"] < b["sec"]
                           for b, c in zip(runs["base"], runs["change"])),
        "digests": sorted(list(d) for d in digests),
    }


def plan_diff(procs: dict, base: str, name: str) -> list[str]:
    a, b = (ask(procs, s, "plan", name)["plan"].splitlines(True) for s in SIDES)
    return list(difflib.unified_diff(a, b, f"{base}/{name}", f"worktree/{name}"))


def main(argv: list[str]) -> int:
    if argv[:1] == ["--worker"]:
        worker(os.path.realpath(argv[1]), argv[2])
        return 0
    env_sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", help="git revision of the base side")
    ap.add_argument("names", nargs="+", help="registered query names")
    ap.add_argument("--sf-dir", default=env_sf, required=env_sf is None,
                    help="fixture directory (default $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--json", help="also write the timing report here")
    ap.add_argument("--plans", action="store_true",
                    help="diff the physical plans instead of timing")
    args = ap.parse_args(argv)
    git = ["git", "-C", CHANGE_TREE]
    sha = subprocess.run([*git, "rev-parse", "--verify", f"{args.base}^{{commit}}"],
                         check=True, stdout=subprocess.PIPE, text=True).stdout.strip()
    sf_dir, tmp = os.path.realpath(args.sf_dir), tempfile.mkdtemp(prefix="ab-base-")
    procs: dict = {}
    try:
        archive = subprocess.run([*git, "archive", sha], check=True,
                                 stdout=subprocess.PIPE).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
        env = worker_env(os.environ)
        procs = {side: subprocess.Popen(
            [sys.executable, os.path.realpath(__file__), "--worker", tree, sf_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=env,
        ) for side, tree in zip(SIDES, (os.path.realpath(tmp), CHANGE_TREE))}
        bad = []
        if args.plans:
            for name in args.names:
                diff = plan_diff(procs, args.base, name)
                sys.stdout.writelines(diff)
                print(f"{name}: {'DIFFERENT' if diff else 'identical'}", flush=True)
                if diff:
                    bad.append(name)
        else:
            report = {"base": args.base, "base_sha": sha, "sf_dir": sf_dir,
                      "cpus": os.environ.get("SPARK_GRAFT_CPUS"), "queries": {}}
            for name in args.names:
                report["queries"][name] = q = time_query(procs, name)
                if len(q["digests"]) > 1:
                    bad.append(name)
            print(json.dumps(report, indent=1))
            if args.json:
                with open(args.json, "w") as fh:
                    json.dump(report, fh, indent=1)
    finally:
        for proc in procs.values():
            proc.stdin.close()
            proc.wait(timeout=120)
        shutil.rmtree(tmp, ignore_errors=True)
    if bad:
        what = "plans" if args.plans else "digests"
        print(f"{what} differ: {' '.join(bad)}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
