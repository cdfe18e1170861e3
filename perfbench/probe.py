"""Layer probes taken from outside the package: spans around the
benchmark's calls into each layer, and reads of Spark's own status
stores after each op.

Jobs are attributed to an op's phases by job group (``setJobGroup``
before the build and before the drain), and stages by the ids those
jobs list. Nothing is counted by list size: the status store keeps only
``spark.ui.retainedStages`` stages, so a size difference taken across
an eviction goes wrong, while ids stay exact.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory spans (name, start, end, parent, op id), written out
    once at the end. Disabled, ``span`` is a shared no-op context."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextlib.contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "op": self.op_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def span(self, name: str):
        return self._span(name) if self.enabled else contextlib.nullcontext()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class StatusProbe:
    """Reads the SparkContext's status tracker and AppStatusStore."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.tracker = self.sc.statusTracker()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def drain_events(self) -> None:
        """Block until the listener bus has applied every event, so the
        stores hold the finished op."""
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def stage_ids(self, jobs: list[int]) -> list[int]:
        ids: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        return sorted(ids)

    def stages(self, stage_ids: list[int], detail: bool) -> list[dict]:
        """Metrics of the stages that ran (skipped stages are dropped).

        Once the store holds ``retainedStages`` stages it evicts skipped
        stages first, whatever their age, so a stage id the op's jobs
        list but the store no longer has was skipped."""
        out = []
        for sid in stage_ids:
            try:
                d = self.store.lastStageAttempt(sid)
            except Py4JJavaError as e:
                if e.java_exception.getClass().getName() != "java.util.NoSuchElementException":
                    raise
                continue
            if d.status().toString() == "SKIPPED" or d.numCompleteTasks() == 0:
                continue
            rec = {"id": sid, "cpu_s": d.executorCpuTime() / 1e9}
            if detail:
                rec.update(
                    attempt=d.attemptId(),
                    tasks=d.numCompleteTasks(),
                    run_s=d.executorRunTime() / 1e3,
                    gc_s=d.jvmGcTime() / 1e3,
                    input_mb=d.inputBytes() / 2**20,
                    input_rows=d.inputRecords(),
                    shuffle_read_mb=d.shuffleReadBytes() / 2**20,
                    shuffle_write_mb=d.shuffleWriteBytes() / 2**20,
                    spill_mb=d.diskBytesSpilled() / 2**20,
                )
            out.append(rec)
        return out

    def task_skew(self, stage: dict) -> float:
        """Max over median task run time within one stage."""
        opt = self.store.taskSummary(stage["id"], stage["attempt"], self._quantiles)
        if not opt.isDefined():
            return 1.0
        run = opt.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0

    def storage(self) -> tuple[float, float]:
        """(memory MB, disk MB) held by cached RDDs right now."""
        mem = disk = 0
        for info in self.jsc.getRDDStorageInfo():
            mem += info.memSize()
            disk += info.diskSize()
        return mem / 2**20, disk / 2**20

    @staticmethod
    def catalyst_ms(df) -> dict[str, float]:
        """Catalyst phase times of ``df``'s own QueryExecution.

        The noop drain plans through a fresh QueryExecution whose tracker
        is not reachable from Python, so the op's final DataFrame is
        optimized and planned here, after the drain and outside the
        op's wall time, and its tracker read back."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc/<pid>/status VmHWM."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the whole VM so far, from /proc/stat:
    steal is time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:9]]
    return fields[7], sum(fields)
