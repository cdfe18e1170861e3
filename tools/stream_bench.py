"""Streaming throughput evidence (r7 verdict, next-round #6): one
artifact with per-family input rows, wall time, rows/s, and microbatch
count for every live streaming family (tag-selected from the registry
— 19 as of r12).

Measurement: a Python ``StreamingQueryListener`` captures every
microbatch's ``numInputRows``/``batchId``, its ``durationMs`` phases
(triggerExecution, addBatch, walCommit, commitOffsets) and its state
operators' summed ``commitTimeMs``/``numRowsTotal`` while the
registered family function runs (the functions own their queries
internally — the listener observes without touching them). Wall time
follows the house methodology (1 warmup + 3 timed runs, median, same
session); batch stats come from the last timed run after a settle
wait (listener events are delivered asynchronously), and each
family's ``batches`` list plus ``idle_gap_sec`` (that run's wall
minus its batches' triggerExecution) attribute its time per
micro-batch (``PROBE_FUNNEL_r09/r14*.json`` hold the earlier records
of this attribution for ``streaming_funnel_left_outer``).

Caveats recorded in the artifact rather than hidden:
- rows/s divides SOURCE rows by end-to-end wall time including query
  startup/teardown (~0.2-0.5 s fixed per query on this JVM) — a
  lower bound on steady-state throughput. Families whose fixed
  overhead dominates are exactly the ones the verdict asked to flag.
- most families read the events fixture as ONE parquet file → one
  data microbatch; the kafka-shim families see the topic's file
  layout. ``n_batches`` counts all progress events, ``n_data_batches``
  those with rows (no-data batches fire for watermark advancement).
- ``streaming_running_user_counts_tws`` falls back to its guarded twin
  on images without google.protobuf (PROBE_TWS_r11.json; re-probed
  each round, first recorded r08) and then reports live=false here.

Usage: SPARK_GRAFT_SF_DIR=... python tools/stream_bench.py [FAMILY ...]
       [--json PATH]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402


#: The per-batch ``durationMs`` phases each batch record keeps.
_PHASES = ("triggerExecution", "addBatch", "walCommit", "commitOffsets")


class _Collector(StreamingQueryListener):
    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        ops = p.stateOperators
        self.events.append(
            {"rows": int(p.numInputRows), "batch": int(p.batchId),
             "qid": str(p.id),
             **{f"{k}_ms": p.durationMs.get(k) for k in _PHASES},
             "state_commit_ms": sum(o.commitTimeMs for o in ops),
             "state_rows_total": sum(o.numRowsTotal for o in ops)}
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def main(args: list[str]) -> int:
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        args = args[:i] + args[i + 2:]
    only = set(args)  # optional positional family filter (r12)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import _calibrate

    from mapreduce_citation_spark.registry import all_specs
    from mapreduce_citation_spark.session import get_spark

    spark = get_spark("stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    col = _Collector()
    spark.streams.addListener(col)

    specs = all_specs()
    fams = [n for n, sp in specs.items() if "streaming" in sp.tags
            and (not only or n in only)]

    def settle(start_len: int) -> list[dict]:
        last, t0 = len(col.events), time.time()
        while time.time() - t0 < 10:
            time.sleep(1.0)
            if len(col.events) == last:
                break
            last = len(col.events)
        return col.events[start_len:]

    report: dict = {"sf_dir": sf_dir, "cal": _calibrate(), "families": {}}
    for name in fams:
        fn = specs[name].fn
        fn(spark, sf_dir).count()  # warmup (also drains the sink table)
        runs: list[float] = []
        batches: list[dict] = []
        for i in range(3):
            if i == 2:
                # drain the PREVIOUS run's still-in-flight listener
                # events before marking, or they land inside this
                # run's window and inflate its input_rows (seen in the
                # first committed r8 artifact for the multi-run
                # families)
                settle(len(col.events))
            mark = len(col.events)
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            runs.append(time.perf_counter() - t0)
            if i == 2:
                batches = settle(mark)
        wall = sorted(runs)[1]
        rows = sum(b["rows"] for b in batches)
        fam = {
            "wall_sec_median": round(wall, 3),
            "runs": [round(r, 3) for r in runs],
            "input_rows": rows,
            "n_batches": len(batches),
            "n_data_batches": sum(1 for b in batches if b["rows"] > 0),
            "n_queries": len({b["qid"] for b in batches}),
            "rows_per_sec": round(rows / wall) if rows else 0,
            "live": rows > 0,
            # last run's wall - its batches' triggerExecution: query
            # startup, settle and teardown
            "idle_gap_sec": round(runs[-1] - sum(
                b["triggerExecution_ms"] or 0 for b in batches) / 1000, 3),
            "batches": batches,
        }
        report["families"][name] = fam
        print(f"  {name}: {fam['wall_sec_median']}s, {rows} rows, "
              f"{fam['n_batches']} batches, {fam['rows_per_sec']} rows/s",
              file=sys.stderr)

    print(json.dumps(report, indent=1))
    if json_path:
        with open(json_path, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
