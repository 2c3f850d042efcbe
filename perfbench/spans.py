"""Spans around the benchmark's own calls into each layer.

A span has a name, start, end, parent and the id of the operation it
belongs to.  Spans stay in memory until the run ends, when it reads
them and writes them out once.
While a span is open, Spark jobs run under a job group named after the
span, so the stage metrics of Spark's status store land on it.  The JVM
log offset is recorded at both ends, so log events (codegen fallbacks)
land on spans as well.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import re
import time
from dataclasses import dataclass

# HotSpot's collector threads (G1, as Spark's JVM runs by default).
JVM_GC_THREADS = ("GC Thread", "G1 ", "VM Thread")
CODEGEN_FALLBACK = re.compile(rb"WholeStageCodegenExec: Whole-stage codegen disabled")


@dataclass
class Span:
    id: str
    name: str
    op: str
    parent: str | None
    start: float
    log_start: int
    end: float = 0.0
    log_end: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` is a no-op that
    still times the block, so untraced runs pay only a clock read."""

    def __init__(self, spark, log_path: str, enabled: bool):
        self.spark = spark
        self.log_path = log_path
        self.enabled = enabled
        self.spans: list[Span] = []
        self.totals: dict[str, dict] = {}  # span id -> its job group's totals
        self._stack: list[Span] = []
        self._ids = itertools.count()

    def _log_size(self) -> int:
        return os.path.getsize(self.log_path)

    @contextlib.contextmanager
    def span(self, name: str, op: str):
        """Time ``name`` as part of operation ``op``; yields the span (or a
        bare timer when tracing is off)."""
        if not self.enabled:
            sp = Span("", name, op, None, time.perf_counter(), 0)
            yield sp
            sp.end = time.perf_counter()
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            f"s{next(self._ids)}", name, op, parent.id if parent else None,
            time.perf_counter(), self._log_size(),
        )
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.id, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.log_end = self._log_size()
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent.id, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setJobDescription(None)
            self.spans.append(sp)

    def snapshot(self) -> None:
        """Store the job-group totals of every span recorded so far.  Call
        it before the session stops: its status store goes with it."""
        groups, stages = stage_metrics(self.spark)
        for sp in self.spans:
            if sp.id not in self.totals:
                self.totals[sp.id] = group_totals(groups, stages, sp.id)

    def dump(self, path: str) -> None:
        """Write every span, one JSON line each, with the jobs, stages and
        stage metrics of its job group; times are relative to the first
        span."""
        self.snapshot()
        t0 = min((sp.start for sp in self.spans), default=0.0)
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                row = {"id": sp.id, "name": sp.name, "op": sp.op, "parent": sp.parent,
                       "start": round(sp.start - t0, 4), "end": round(sp.end - t0, 4)}
                row.update(self.totals[sp.id])
                fh.write(json.dumps(row) + "\n")

    def codegen_fallbacks(self, sp: Span) -> int:
        with open(self.log_path, "rb") as fh:
            fh.seek(sp.log_start)
            return len(CODEGEN_FALLBACK.findall(fh.read(sp.log_end - sp.log_start)))


def stage_metrics(spark) -> tuple[dict, dict]:
    """(job group -> [(job id, stage ids)]; stage id -> metrics) from the
    status store.
    Every job and stage the store still retains is included."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    jobs = store.jobsList(None)
    groups: dict[str, list] = {}
    job_stages: dict[int, list] = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        ids = j.stageIds()
        job_stages[j.jobId()] = [ids.apply(k) for k in range(ids.size())]
        if g.isDefined():
            groups.setdefault(g.get(), []).append(j.jobId())
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    by_stage = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.status().toString() == "SKIPPED":
            continue
        m = by_stage.setdefault(
            s.stageId(),
            {"executor_run_s": 0.0, "input_bytes": 0, "shuffle_bytes": 0, "spill_bytes": 0},
        )
        m["executor_run_s"] += s.executorRunTime() / 1000
        m["input_bytes"] += s.inputBytes()
        m["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
        m["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return {g: [(j, job_stages[j]) for j in js] for g, js in groups.items()}, by_stage


def group_totals(groups: dict, by_stage: dict, group: str) -> dict:
    """Jobs, executed stages and summed stage metrics of one job group."""
    out = {"jobs": 0, "stages": 0, "executor_run_s": 0.0, "input_bytes": 0,
           "shuffle_bytes": 0, "spill_bytes": 0}
    for _, stage_ids in groups.get(group, []):
        out["jobs"] += 1
        for sid in stage_ids:
            m = by_stage.get(sid)
            if m is None:
                continue
            out["stages"] += 1
            for k, v in m.items():
                out[k] += v
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``, in MB."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds used so far by ``pids`` (all threads)."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def jvm_cpu_s(pid: int) -> dict[int, tuple[str, float]]:
    """{thread id: (kind, CPU seconds so far)} for the live threads of the
    JVM ``pid``; kind is ``jit`` (compiler threads), ``gc`` (collector
    threads) or ``work`` (every other thread)."""
    out = {}
    tick = os.sysconf("SC_CLK_TCK")
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:  # the thread has ended
            continue
        name = stat[stat.index("(") + 1: stat.rindex(")")]
        fields = stat.rsplit(")", 1)[1].split()
        kind = ("jit" if "CompilerThre" in name or name == "Sweeper thread"
                else "gc" if name.startswith(JVM_GC_THREADS) else "work")
        out[int(tid)] = (kind, (int(fields[11]) + int(fields[12])) / tick)
    return out


def steal_s() -> float:
    """CPU time the host has taken from this machine so far, over all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")

