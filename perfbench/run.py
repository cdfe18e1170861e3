"""Benchmark entry point.

    python3 perfbench/run.py --workload citation_report --seed 1 --seconds 15 --trace 0

Run from the repository root (any checkout of it). One run is one
fresh process on ``local[<cores>]``:

1. make the workload's inputs from ``--seed`` and their expected
   outputs in a child process (cached under ``.perfbench/`` by seed and
   size; not timed, and not counted in ``process.peak_rss_mb``);
2. set up: start the session and run ``WARM_ROUNDS`` untimed warm
   pairs of the workload's two op kinds (``setup_s``);
3. measure: a closed loop with one client runs the workload's primary
   and secondary op back to back, pair after pair, until ``--seconds``
   have passed and at least ``MIN_PAIRS`` pairs ran; every op, warm or
   timed, is checked against the expected output;
4. print every metric by name with its unit, then one JSON line.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is the
separate traced run, which records spans and status-store reads per op
and reports the per-layer metrics. Exit status is 0 when the run
completed, whether or not every check passed (``correct`` says that),
and 2 when the package cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

#: Metric name -> unit; the order is the print order.
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
    "primary_op_p50_s": "s",
    "secondary_op_p50_s": "s",
}
ROLE_LAYER = {
    "wall_s": "s",
    "samples": "count",
    "session.warm_s": "s",
    "sources.call_ms": "ms",
    "sources.input_mb": "MB",
    "sources.input_rows": "rows",
    "sources.scan_cpu_s": "s",
    "cache.call_ms": "ms",
    "cache.stored_mb": "MB",
    "cache.disk_mb": "MB",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_stages": "count",
    "operators.build_cpu_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.drain_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.cpu_s": "s",
    "exec.run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.task_skew": "ratio",
    "exec.core_busy": "ratio",
    "trace.probe_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "process.peak_rss_mb": "MB",
    "host.effective_cores": "count",
    "host.steal_share": "ratio",
    "trace.cpu_s_per_op": "s",
    **{f"{role}.{k}": u for role in ("primary", "secondary") for k, u in ROLE_LAYER.items()},
}


#: Untimed (primary, secondary) pairs in set-up. The first op after JVM
#: start runs 2-4x slower; later ops keep speeding up for minutes (JIT
#: and G1 heap growth), longer than a run can wait (README, Noise choices).
WARM_ROUNDS = 3
#: Timed pairs at least, so each median has a middle sample.
MIN_PAIRS = 3


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class Runner:
    """Runs one op at a time and records what it cost."""

    def __init__(self, spark, ctx, tracer, trace: bool):
        from probe import StatusProbe

        self.spark = spark
        self.sc = spark.sparkContext
        self.ctx = ctx
        self.tracer = tracer
        self.trace = trace
        self.probe = StatusProbe(spark)
        self.n = 0
        self.stage_mark = -1  # highest stage id attributed to an earlier phase

    def _phase_stages(self, jobs: list[int]) -> list[dict]:
        ids = [s for s in self.probe.stage_ids(jobs) if s > self.stage_mark]
        if ids:
            self.stage_mark = max(ids)
        return self.probe.stages(ids, self.trace)

    def run(self, op, role: str) -> dict:
        self.n += 1
        group = f"perfbench-op{self.n}"
        self.tracer.op_id = self.n
        rec = {"op": self.n, "kind": op.kind, "role": role, "error": None}
        self.spark.catalog.clearCache()
        built = None
        t0 = t1 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{op.kind}"):
                self.sc.setJobGroup(f"{group}-build", op.kind)
                built = op.build(self.ctx)
                t1 = time.perf_counter()
                self.sc.setJobGroup(f"{group}-drain", op.kind)
                with self.tracer.span("exec.drain"):
                    if op.drain is not None:
                        op.drain(self.ctx, built)
                    else:
                        built.df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            rec["error"] = op.check(self.ctx, built)
        except Exception:  # a failed op is counted, and the loop goes on
            t2 = time.perf_counter()
            rec["error"] = traceback.format_exc(limit=3)
        rec.update(wall_s=t2 - t0, build_s=t1 - t0, drain_s=t2 - t1)

        tp = time.perf_counter()
        self.probe.drain_events()
        build_jobs = self.probe.jobs(f"{group}-build")
        drain_jobs = self.probe.jobs(f"{group}-drain")
        bs = self._phase_stages(build_jobs)
        ds = self._phase_stages(drain_jobs)
        rec["cpu_s"] = sum(s["cpu_s"] for s in bs + ds)
        if self.trace:
            self._layers(rec, built, build_jobs, drain_jobs, bs, ds)
            rec["trace.probe_s"] = time.perf_counter() - tp
        return rec

    def _layers(self, rec, built, build_jobs, drain_jobs, bs, ds) -> None:
        allst = bs + ds

        def total(stages, key):
            return sum(s[key] for s in stages)

        spans = [s for s in self.tracer.spans if s["op"] == rec["op"]]

        def span_ms(prefix):
            return 1e3 * sum(s["end"] - s["start"] for s in spans if s["name"].startswith(prefix))

        mem_mb, disk_mb = self.probe.storage()
        longest = max(allst, key=lambda s: s["run_s"], default=None)
        rec.update(
            {
                "sources.call_ms": span_ms("sources."),
                "sources.input_mb": total(allst, "input_mb"),
                "sources.input_rows": total(allst, "input_rows"),
                "sources.scan_cpu_s": sum(
                    s["cpu_s"] for s in allst if s["input_rows"] or s["input_mb"]
                ),
                "cache.call_ms": span_ms("cache."),
                "cache.stored_mb": mem_mb + disk_mb,
                "cache.disk_mb": disk_mb,
                "operators.build_s": rec["build_s"],
                "operators.build_jobs": len(build_jobs),
                "operators.build_stages": len(bs),
                "operators.build_cpu_s": total(bs, "cpu_s"),
                "exec.drain_s": rec["drain_s"],
                "exec.jobs": len(drain_jobs),
                "exec.stages": len(ds),
                "exec.tasks": total(ds, "tasks"),
                "exec.cpu_s": total(ds, "cpu_s"),
                "exec.run_s": total(ds, "run_s"),
                "exec.gc_s": total(ds, "gc_s"),
                "exec.shuffle_write_mb": total(ds, "shuffle_write_mb"),
                "exec.shuffle_read_mb": total(ds, "shuffle_read_mb"),
                "exec.spill_mb": total(allst, "spill_mb"),
                "exec.task_skew": self.probe.task_skew(longest) if longest else 1.0,
                "exec.core_busy": total(allst, "run_s") / (rec["wall_s"] * _cores()),
            }
        )
        if built is not None and built.plan is not None:
            with self.tracer.span("catalyst.plan"):
                ms = self.probe.catalyst_ms(built.plan())
            rec.update({f"catalyst.{k}_ms": v for k, v in ms.items()})


def _median(values):
    return statistics.median(values) if values else 0.0


def summarize(records: list[dict], warm: dict[str, dict], trace: bool) -> dict:
    timed = [r for r in records if not r.get("warm")]
    out: dict[str, float] = {
        "cpu_s_per_op": sum(r["cpu_s"] for r in timed) / max(len(timed), 1),
    }
    for role in ("primary", "secondary"):
        rs = [r for r in timed if r["role"] == role]
        p50 = _median([r["wall_s"] for r in rs])
        out[f"{role}_op_p50_s"] = p50
        if trace:
            out[f"{role}.wall_s"] = p50
            out[f"{role}.samples"] = len(rs)
            out[f"{role}.session.warm_s"] = warm[role]["wall_s"] - p50
            for key in ROLE_LAYER:
                if key not in ("wall_s", "samples", "session.warm_s"):
                    out[f"{role}.{key}"] = _median([r.get(key, 0.0) for r in rs])
    return out


def _stop(spark, gw) -> None:
    """Stop the session and wait for the JVM process to exit."""
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:  # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="bench", help="input size (gen.SIZES)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mapreduce_citation_spark")):
        print(f"perfbench: no mapreduce_citation_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from bench import _calibrate
    from ops import WORKLOADS, Ctx
    from probe import Tracer, cpu_jiffies, vm_hwm_mb

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    cores = _cores()

    # inputs and expected outputs: outside setup_s, and in a child
    # process, so the generator's and the oracle's memory is not counted
    prep = subprocess.run(
        [sys.executable, os.path.join(HERE, "expect.py"), os.path.join(STATE, "data"),
         wl.input, str(args.seed), args.size],
        stdout=subprocess.PIPE, check=True, text=True,
    )
    inputs = json.loads(prep.stdout.splitlines()[-1])
    path, expected = inputs["path"], inputs["expected"]
    host_cores = _calibrate()["cal_effective_cores"]

    # set-up: session start, then WARM_ROUNDS untimed warm pairs
    steal0, total0 = cpu_jiffies()
    t0 = time.perf_counter()
    from pyspark import SparkContext

    from mapreduce_citation_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    gw = SparkContext._gateway
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_start = time.perf_counter() - t0
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        tracer = Tracer(bool(args.trace))
        runner = Runner(spark, Ctx(spark, tracer.span, path, expected), tracer, bool(args.trace))
        records, warm = [], {}
        roles = (("primary", wl.primary), ("secondary", wl.secondary))
        for _ in range(WARM_ROUNDS):
            for role, op in roles:
                rec = runner.run(op, role)
                rec["warm"] = True
                warm.setdefault(role, rec)
                records.append(rec)
        setup_s = time.perf_counter() - t0

        # measurement: closed loop, one client, whole pairs until the time is up
        deadline = time.perf_counter() + args.seconds
        pairs = 0
        while pairs < MIN_PAIRS or time.perf_counter() < deadline:
            for role, op in roles:
                records.append(runner.run(op, role))
            pairs += 1
        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        steal1, total1 = cpu_jiffies()
    finally:
        _stop(spark, gw)

    summary = summarize(records, warm, bool(args.trace))
    failed = [r for r in records if r["error"]]
    if args.trace:
        summary["session.start_s"] = session_start
        summary["process.peak_rss_mb"] = peak_rss
        summary["host.effective_cores"] = host_cores
        summary["host.steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
        summary["trace.cpu_s_per_op"] = summary["cpu_s_per_op"]
        tracer.write(os.path.join(
            STATE, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
        names = PER_LAYER
    else:
        summary["setup_s"] = setup_s
        names = END_TO_END
    metrics = {k: {"value": summary[k], "unit": u} for k, u in names.items()}

    kinds = {role: op.kind for role, op in roles}
    n_timed = sum(1 for r in records if not r.get("warm"))
    print(f"workload {args.workload} seed {args.seed} cores {cores} "
          f"primary={kinds['primary']} secondary={kinds['secondary']} "
          f"timed ops {n_timed} inputs {inputs['seconds']:.2f} s (not in setup_s) "
          f"host.effective_cores {host_cores:.2f}")
    for r in records:
        tag = "warm " if r.get("warm") else "timed"
        print(f"  {tag} op{r['op']:<3} {r['kind']:<12} wall {r['wall_s']:.3f} s "
              f"(build {r['build_s']:.3f}, drain {r['drain_s']:.3f}) cpu {r['cpu_s']:.2f} s"
              f"{'  FAILED: ' + r['error'].splitlines()[-1] if r['error'] else ''}")
    for k, m in metrics.items():
        print(f"  {k:<38} {m['value']:>14.4f} {m['unit']}")
    for r in failed:
        print(f"FAILED op{r['op']} {r['kind']}: {r['error']}", file=sys.stderr)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(records),
        "failed": len(failed),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
