#!/usr/bin/env python3
"""Benchmark of the Singer target and the query engine.

Run from the repository root::

    python3 perfbench/run.py --workload bulk_backfill --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload

Workloads (see perfbench/README.md for why each exists and which layer
metric should move which end-to-end metric):

- ``bulk_backfill``    ``SingerTarget.run_path`` over many RECORDs of two streams
- ``incremental_sync`` ``run_path`` over a small multi-stream sync with a
                       schema change and invalid records sent to quarantine
- ``query_mix``        seven registered queries on the noop sink
- ``stream_trickle``   ``SingerStreamTarget.start``, one file per micro-batch

Inputs are generated from ``--seed`` under ``.perfbench_work/`` and
removed at exit.  The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The first two are the workloads BENCHMARK.json gates.
WORKLOADS = ["bulk_backfill", "query_mix", "incremental_sync", "stream_trickle"]

# Reference-architecture ingest rates (scripts/reference_cost_model.py, as
# recorded in BASELINE.md), printed next to the single-core figure.
REFERENCE_REC_PER_S = {"as_written": 2894, "amortized": 14934}

# The Spark driver heap is fixed at its maximum from the start: a heap that grows
# on demand makes peak RSS vary by ~10% from run to run with GC timing.
DRIVER_HEAP = "2g"

# Input sizes, sized for local[nproc] on a 4-core box.
BULK_SCALE = 0.4  # x (60k lineitem + 15k orders)
SYNC_STREAMS = ["events", "orders", "customer", "nation"]
SYNC_CAP = 1000
SYNC_INVALID = 0.02
TRICKLE_FILE_RECORDS = 1000
QUERY_SCALE = 1.0  # x sf0.01 row counts

# An ingest run measures at least this many calls, so that its median is
# never pulled by the first one, which still pays for JIT warm-up.
MIN_OPS = 3

# setup_s is the median of this many session set-ups in one run.
SETUPS = 5

# The traced run's spans, kept after the run (one JSON line per span).
SPANS_FILE = os.path.join(".perfbench_work", "spans-{}.jsonl")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, int]:
    """The highest percentile that has at least ten samples beyond it, and
    which percentile that is; (max, 100) when there are too few samples."""
    n = len(xs)
    if n < 11:
        return (max(xs) if xs else 0.0), 100
    return sorted(xs)[n - 11], 100 * (n - 10) // n


class Bench:
    """One run: work directory, JVM log, Spark session and tracer."""

    def __init__(self, args, spec: dict):
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.log_path = os.path.join(self.work, "jvm.log")
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.tracer = None
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {m["name"]: 0 for m in spec["per_layer"]}
        self.summary: dict[str, object] = {}
        self._phase = None

    # -- process environment -------------------------------------------------

    def isolate(self) -> None:
        """Keep Spark's scratch files inside the work directory and send
        the JVM's log (inherited stderr) to ``jvm.log``."""
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # the JVM's temp files and perf counters (/tmp/hsperfdata_*) too
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        )
        saved = os.dup(2)
        fd = os.open(self.log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
        os.dup2(fd, 2)
        os.close(fd)
        sys.stderr = os.fdopen(saved, "w", buffering=1)

    def get_spark(self, master: str | None = None):
        from target_parquet_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.defaultJavaOptions": f"-Xms{DRIVER_HEAP}",
        }
        if self.args.trace:
            conf["spark.ui.retainedJobs"] = "100000"
            conf["spark.ui.retainedStages"] = "100000"
        spark = get_spark(master=master or f"local[{self.cpus}]", extra_conf=conf)
        spark.range(1).count()
        return spark

    def setup(self) -> None:
        """Launch the JVM, then time SETUPS fresh sessions in it; setup_s is
        their median.  The launch itself is a per-layer metric."""
        from spans import Tracer

        self.phase("setup")
        t0 = time.perf_counter()
        self.spark = self.get_spark()
        self.layers["session.jvm_start_s"] = time.perf_counter() - t0
        walls = []
        for _ in range(SETUPS):
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.get_spark()
            walls.append(time.perf_counter() - t0)
        self.setup_s = median(walls)
        self.tracer = Tracer(self.spark, self.log_path, bool(self.args.trace))
        self.phase("warmup")

    def restart(self, master: str | None = None) -> None:
        self.tracer.snapshot()
        self.spark.stop()
        self.spark = self.get_spark(master)
        self.tracer.spark = self.spark

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None and gw.proc is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            try:
                gw.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()

    def pids(self) -> list[int]:
        """This process and the JVM."""
        from pyspark import SparkContext

        return [os.getpid(), SparkContext._gateway.proc.pid]

    def peak_rss_mb(self) -> float:
        from spans import peak_rss_mb

        return peak_rss_mb(self.pids())

    def cpu_snapshot(self) -> tuple:
        from spans import cpu_s, jvm_cpu_s, steal_s

        py, jvm = self.pids()
        return cpu_s([py]), jvm_cpu_s(jvm), steal_s()

    def cpu_since(self, snap: tuple) -> dict[str, float]:
        """CPU seconds used since ``snap`` by kind.  ``work`` is the Python
        process plus every JVM thread but the JIT compiler (``jit``) and
        the garbage collector (``gc``); ``steal`` is what the host took
        from this machine, over all its CPUs."""
        py0, jvm0, steal0 = snap
        py1, jvm1, steal1 = self.cpu_snapshot()
        out = {"work": py1 - py0, "jit": 0.0, "gc": 0.0, "steal": steal1 - steal0}
        for tid, (kind, t) in jvm1.items():
            out[kind] += t - jvm0.get(tid, (kind, 0.0))[1]
        return out

    def op_cpu(self, groups: list[list[dict]]) -> float:
        """Work CPU seconds of one operation: the median over each group's
        operations (one group per query of a mix), summed over the groups.
        The same figure for every kind goes to the summary line."""
        groups = [g for g in groups if g]  # all of a group's operations may fail
        kinds = {"work", "jit", "gc", "steal"}
        cpu = {k: sum(median([d[k] for d in g]) for g in groups) for k in kinds}
        self.summary["op_cpu_s"] = {k: round(v, 3) for k, v in cpu.items()}
        self.summary["op_work_cpu_s"] = [[round(d["work"], 3) for d in g] for g in groups]
        return cpu["work"]

    # -- bookkeeping ---------------------------------------------------------

    def record(self, what: str, problems: list[str]) -> None:
        """Count one checked operation; problems make it a failure."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems]

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def phase(self, name: str) -> None:
        """Close the previous phase of the run and start ``name``; phase
        walls go to the summary line, so the run's budget is visible."""
        now = time.perf_counter()
        phases = self.summary.setdefault("phases_s", {})
        if self._phase:
            phases[self._phase[0]] = round(now - self._phase[1], 2)
        self._phase = (name, now) if name else None

    def stage_totals(self, spans) -> dict:
        from spans import group_totals, stage_metrics

        groups, stages = stage_metrics(self.spark)
        per = [group_totals(groups, stages, sp.id) for sp in spans]
        return {k: median([p[k] for p in per]) for k in per[0]}


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def _ingest_ops(b: Bench, path: str, check, quarantine: bool) -> tuple[list, float, float]:
    """Run ``run_path`` on ``path`` for the run's seconds (untraced), check
    each output; returns the walls, the CPU seconds per operation and the
    median output bytes."""
    import ingest

    walls, cpus = [], []
    outputs = []
    b.phase("measure")
    t_end = time.perf_counter() + b.args.seconds
    i = 0
    while i < MIN_OPS or time.perf_counter() < t_end:
        out, q = b.path("out", f"op{i}"), b.path("quarantine", f"op{i}")
        snap = b.cpu_snapshot()
        t0 = time.perf_counter()
        try:
            res = ingest.run_path(b.spark, path, out, q if quarantine else None)
        except Exception as ex:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            b.record(f"op{i}", [f"{type(ex).__name__}: {ex}"])
        else:
            walls.append(time.perf_counter() - t0)
            cpus.append(b.cpu_since(snap))
            outputs.append((i, res, out, q))
        i += 1
    cpu = b.op_cpu([cpus])
    b.phase("check")
    b.summary["op_walls_s"] = [round(w, 3) for w in walls]
    for i, res, out, q in outputs:
        b.record(f"op{i}", check(res, out, q))
    out_bytes = median([ingest.dir_bytes(out)[1] for _, _, out, _ in outputs])
    return walls, cpu, out_bytes


def _traced_ingest(b: Bench, path: str, in_bytes: int, check, quarantine: bool):
    """Untraced and traced ``run_path`` walls, then the layer probes."""
    import ingest

    b.phase("ops")
    plain, traced, spans = [], [], []
    # untraced/traced in ABBA order, so JIT warming favours neither side
    for i, is_traced in enumerate([False, True, True, False]):
        out, q = b.path("tout", str(i)), b.path("tq", str(i))
        if is_traced:
            with b.tracer.span("target.run_path", f"op{i}") as sp:
                ingest.run_path(b.spark, path, out, q if quarantine else None)
            traced.append(sp.wall)
            spans.append(sp)
        else:
            t0 = time.perf_counter()
            res = ingest.run_path(b.spark, path, out, q if quarantine else None)
            plain.append(time.perf_counter() - t0)
            b.record(f"op{i}", check(res, out, q))
    b.phase("probes")
    L = b.layers
    L["coerce.codegen_fallbacks"] = median([b.tracer.codegen_fallbacks(s) for s in spans])
    totals = b.stage_totals(spans)
    for k in ("jobs", "stages", "executor_run_s", "input_bytes", "shuffle_bytes", "spill_bytes"):
        L[f"target.{k}"] = totals[k]
    L.update(ingest.layer_probes(b.spark, b.tracer, path, b.work, "probe"))
    L["trace.untraced_wall_s"] = median(plain)
    L["trace.traced_wall_s"] = median(traced)
    L["trace.overhead_s"] = L["trace.traced_wall_s"] - L["trace.untraced_wall_s"]
    layer_sum = (
        L["singer_source.envelope_s"] + L["singer_source.decode_s"]
        + L["validation.eval_s"] + L["parquet_sink.write_s"]
        + (L["schema.resolve_ms"] + L["validation.compile_ms"]) / 1000
    )
    L["target.self_s"] = L["trace.traced_wall_s"] - layer_sum
    L["target.output_bytes_per_input_byte"] = (
        ingest.dir_bytes(b.path("tout", "0"))[1] / in_bytes
    )
    b.summary["layer self-times sum (s)"] = layer_sum + L["target.self_s"]


def bulk_backfill(b: Bench) -> float:
    import gen
    import ingest

    inp = gen.make_bulk(b.args.seed, b.path("in"), BULK_SCALE)
    inp["expected"] = b.path("in", "expected")
    n = sum(inp["records"].values())
    b.setup()
    ingest.run_path(b.spark, inp["path"], b.path("warm"))

    def check(res, out, _q):
        return ingest.check_bulk(res, out, inp)

    if b.args.trace:
        _traced_ingest(b, inp["path"], inp["bytes"], check, quarantine=False)
        b.phase("stream")
        _stream_layers(b)
        # single-core baseline, reported next to the reference figures
        b.phase("local1")
        b.restart(master="local[1]")
        t0 = time.perf_counter()
        res = ingest.run_path(b.spark, inp["path"], b.path("local1"))
        b.layers["baseline.local1_rec_per_s"] = n / (time.perf_counter() - t0)
        b.record("local1", ingest.check_bulk(res, b.path("local1"), inp))
        b.summary["reference rec/s"] = REFERENCE_REC_PER_S
        return 0.0
    walls, cpu, out_bytes = _ingest_ops(b, inp["path"], check, quarantine=False)
    b.summary["ingest_rec_per_s"] = n / median(walls)
    b.summary["output_bytes_per_input_byte"] = out_bytes / inp["bytes"]
    return cpu


def incremental_sync(b: Bench) -> float:
    import gen
    import ingest

    inp = gen.make_incremental(
        b.args.seed, b.path("in"), SYNC_CAP, SYNC_STREAMS, SYNC_INVALID
    )
    inp["expected"] = b.path("in", "expected")
    b.setup()
    ingest.run_path(b.spark, inp["path"], b.path("warm"), b.path("warmq"))

    def check(res, out, q):
        return ingest.check_sync(b.spark, res, out, q, inp)

    if b.args.trace:
        _traced_ingest(b, inp["path"], inp["bytes"], check, quarantine=True)
        found = b.layers["validation.invalid_rows"]
        b.record("validation probe", [] if found == inp["invalid"] else [
            f"{found} invalid rows found, {inp['invalid']} seeded"
        ])
        return 0.0
    walls, cpu, out_bytes = _ingest_ops(b, inp["path"], check, quarantine=True)
    b.summary["sync_wall_s"] = median(walls)
    b.summary["output_bytes_per_input_byte"] = out_bytes / inp["bytes"]
    return cpu


def _trickle(b: Bench, seconds: float) -> dict:
    import gen
    import ingest

    # a micro-batch takes seconds, so one file per second of run is plenty
    n_files = int(seconds) + 2
    inp = gen.make_trickle(b.args.seed, b.path("trickle_in"), n_files, TRICKLE_FILE_RECORDS)
    snap = b.cpu_snapshot()
    res = ingest.trickle(b.spark, inp["files"], b.path("trickle"), seconds)
    res["cpu"] = b.cpu_since(snap)
    b.record("trickle", ingest.check_trickle(res, inp["records"]))
    res["in_bytes"] = sum(
        os.path.getsize(os.path.join(b.path("trickle", "drop"), os.path.basename(f)))
        for f in inp["files"][: res["dropped"]]
    )
    return res


def _stream_layers(b: Bench) -> None:
    """singer_stream per-layer metrics from a short traced trickle."""
    from spans import group_totals, stage_metrics

    res = _trickle(b, min(b.args.seconds, 10))
    groups, stages = stage_metrics(b.spark)
    jobs = group_totals(groups, stages, res["run_id"])["jobs"]
    L = b.layers
    L["singer_stream.latency_p50_s"] = median(res["latencies"])
    L["singer_stream.batch_duration_s"] = median(res["batch_s"])
    L["singer_stream.wait_s"] = median(
        [lat - d for lat, d in zip(res["latencies"], res["batch_s"])]
    )
    L["singer_stream.jobs_per_batch"] = jobs / max(1, res["dropped"])


def stream_trickle(b: Bench) -> float:
    import ingest

    b.setup()
    if b.args.trace:
        _stream_layers(b)
        return 0.0
    res = _trickle(b, b.args.seconds)
    cpu = b.op_cpu([[{k: v / max(1, res["dropped"]) for k, v in res["cpu"].items()}]])
    lat = res["latencies"]
    b.summary["batch_latency_p50_s"] = median(lat)
    b.summary["batch_latency_tail_s"], pct = tail(lat)
    b.summary["batch_latency_tail_percentile"] = pct
    b.summary["batches"] = len(lat)
    b.summary["output_bytes_per_input_byte"] = (
        ingest.dir_bytes(res["out"])[1] / res["in_bytes"]
    )
    return cpu


def query_mix(b: Bench) -> float:
    import gen
    import query_mix as qm

    tables = b.path("tables")
    gen.write_tables(gen.make_tables(b.args.seed, QUERY_SCALE), tables)
    b.setup()
    for name, problems in qm.check_results(b.spark, tables).items():
        b.record(name, problems)
    if b.args.trace:
        b.phase("ops")
        plain, traced = {}, {}
        # per query, untraced/traced in ABBA order: a query's second run is
        # faster than its first, and this favours neither side
        for name in qm.QUERIES:
            for i, is_traced in enumerate([False, True, True, False]):
                b.tracer.enabled = is_traced
                r = qm.run_query(b.spark, b.tracer, name, tables, f"q{i}")
                (traced if is_traced else plain).setdefault(name, []).append(r)
        from spans import group_totals, stage_metrics

        groups, stages = stage_metrics(b.spark)
        L = b.layers
        for name in qm.QUERIES:
            r = traced[name][0]
            c, e = (group_totals(groups, stages, sp.id) for sp in r["spans"])
            L[f"query.{name}.construct_s"] = r["construct"]
            L[f"query.{name}.plan_s"] = r["plan"]
            L[f"query.{name}.execute_s"] = r["execute"]
            L[f"query.{name}.construct_jobs"] = c["jobs"]
            L[f"query.{name}.execute_jobs"] = e["jobs"]
            L[f"query.{name}.shuffle_bytes"] = c["shuffle_bytes"] + e["shuffle_bytes"]
            L["query.construct_s"] += r["construct"]
            L["query.execute_s"] += r["execute"]
            L["query.jobs"] += c["jobs"] + e["jobs"]
        L["trace.untraced_wall_s"] = sum(
            median([r["wall"] for r in plain[q]]) for q in qm.QUERIES
        )
        L["trace.traced_wall_s"] = sum(
            median([r["wall"] for r in traced[q]]) for q in qm.QUERIES
        )
        L["trace.overhead_s"] = L["trace.traced_wall_s"] - L["trace.untraced_wall_s"]
        return 0.0
    b.phase("measure")
    # whole passes over the mix, so every query runs equally often
    runs: dict[str, list] = {q: [] for q in qm.QUERIES}
    cpus: dict[str, list] = {q: [] for q in qm.QUERIES}
    t_end = time.perf_counter() + b.args.seconds
    passes = 0
    while passes == 0 or time.perf_counter() < t_end:
        for name in qm.QUERIES:
            snap = b.cpu_snapshot()
            runs[name].append(qm.run_query(b.spark, b.tracer, name, tables, f"op{passes}"))
            cpus[name].append(b.cpu_since(snap))
        passes += 1
    cpu = b.op_cpu(list(cpus.values()))
    b.summary["query_wall_s"] = sum(median([r["wall"] for r in rs]) for rs in runs.values())
    b.summary["query_s"] = {q: median([r["wall"] for r in rs]) for q, rs in runs.items()}
    b.summary["passes"] = passes
    return cpu


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def run_one(args, spec: dict) -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    import target_parquet_spark  # noqa: F401  (fail fast outside a checkout)

    b = Bench(args, spec)
    b.isolate()
    try:
        b.phase("inputs")
        op_cpu = globals()[args.workload](b)
        b.phase(None)
        rss = b.peak_rss_mb()
        if args.trace:
            b.tracer.dump(os.path.join(ROOT, SPANS_FILE.format(args.workload)))
        e2e = {"setup_s": b.setup_s, "op_cpu_s": op_cpu, "peak_rss_mb": rss}
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        b.close()
        shutil.rmtree(b.work, ignore_errors=True)
    unknown = set(b.layers) - {m["name"] for m in spec["per_layer"]}
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    for p in b.problems:
        print(f"CHECK FAILED {p}", file=sys.stderr)
    summary = dict(b.summary)
    summary.update({
        "setup_s": b.setup_s, "peak_rss_mb": rss,
        "error_ratio": b.failed / max(1, b.attempted),
        "operations": b.attempted,
    })
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          + json.dumps(summary, sort_keys=True))
    if args.trace:
        values = b.layers
        metrics = spec["per_layer"]
    else:
        values = e2e
        metrics = spec["end_to_end"]
    print(json.dumps({
        "correct": not b.failed,
        "attempted": max(1, b.attempted),
        "failed": b.failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metrics
        },
    }))
    return 0


def run_all(args) -> int:
    """Every workload, each in its own process, untraced."""
    results = {}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(proc.stderr, file=sys.stderr)
            return proc.returncode or 1
        for line in lines[:-1]:
            print(line)
        results[w] = json.loads(lines[-1])
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {
            f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()
        },
    }))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload == "all":
        return run_all(args)
    return run_one(args, spec)


if __name__ == "__main__":
    sys.exit(main())
