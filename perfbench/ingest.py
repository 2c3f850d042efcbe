"""Ingest workloads: the batch target (``SingerTarget.run_path``) and the
streaming target (``SingerStreamTarget.start``), their output checks, and
the traced layer probes.

Layer probes time each layer from outside, through the module's public
functions, on the same input the operation ingests: the envelope parse and
record decode (``io.singer_source``), predicate compile and evaluation
(``validation``), schema resolution and widening (``schema``) and the
Parquet write (``io.parquet_sink``).  Each probe forces its frame with the
noop sink or a single aggregate, on a cached upstream frame, so it times
one layer and not the layers below it.
"""

from __future__ import annotations

import glob
import json
import os
import time

import duckdb
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from target_parquet_spark.io.parquet_sink import ParquetStreamSink, read_stream_output
from target_parquet_spark.io.singer_source import (
    decode_records_jvm,
    parse_envelope,
    raw_record_struct,
)
from target_parquet_spark.schema import resolve_schema, widen_versions
from target_parquet_spark.streaming.singer_stream import SingerStreamTarget
from target_parquet_spark.target import SingerTarget
from target_parquet_spark.validation import compile_predicate


def run_path(spark, path: str, out_dir: str, quarantine: str | None = None) -> dict:
    config = {"filepath": out_dir, "file_naming_scheme": "{stream}"}
    if quarantine:
        config["quarantine_path"] = quarantine
    os.makedirs(out_dir, exist_ok=True)
    return SingerTarget(spark, config).run_path(path)


def dir_bytes(root: str) -> tuple[int, int]:
    """(Parquet files, Parquet bytes) under ``root``."""
    files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def _fingerprint(con, source: str, schema) -> tuple:
    """Row count plus one order-insensitive hash per column.  Date-times
    compare as epoch milliseconds, everything else as its text form."""
    cols = []
    for f in schema:
        expr = f'"{f.name}"'
        if str(f.type).startswith("timestamp"):
            expr = f"epoch_ms({expr})"
        cols.append(f"sum(hash(CAST({expr} AS VARCHAR)))")
    return con.execute(f"SELECT count(*), {', '.join(cols)} FROM {source}").fetchone()


def check_tables(out_dir: str, expected_dir: str) -> list[str]:
    """Every expected table must read back from ``out_dir/<stream>`` with
    the same rows, column by column."""
    problems = []
    con = duckdb.connect()
    try:
        for exp in sorted(glob.glob(os.path.join(expected_dir, "*.parquet"))):
            stream = os.path.basename(exp)[: -len(".parquet")]
            schema = pq.read_schema(exp)
            got_glob = os.path.join(out_dir, stream, "*.parquet")
            if not glob.glob(got_glob):
                problems.append(f"{stream}: no output files")
                continue
            want = _fingerprint(con, f"read_parquet('{exp}')", schema)
            got = _fingerprint(
                con, f"read_parquet('{got_glob}', union_by_name=true)", schema
            )
            if got != want:
                problems.append(f"{stream}: rows/columns differ from the source")
    finally:
        con.close()
    return problems


def check_bulk(result: dict, out_dir: str, inputs: dict) -> list[str]:
    problems = check_tables(out_dir, inputs["expected"])
    counts = result["metrics"]["recordCount"]
    if counts != inputs["records"]:
        problems.append(f"recordCount {counts} != {inputs['records']}")
    if result["state"] != inputs["state"]:
        problems.append("returned STATE is not the last STATE")
    return problems


def check_sync(spark, result: dict, out_dir: str, quarantine: str, inputs: dict) -> list[str]:
    problems = check_tables(out_dir, inputs["expected"])
    metrics = result["metrics"]
    if metrics["recordCount"] != inputs["records"]:
        problems.append(f"recordCount {metrics['recordCount']} != {inputs['records']}")
    bad = metrics["validationViolations"]
    if bad.get("events") != inputs["invalid"] or sum(bad.values()) != inputs["invalid"]:
        problems.append(f"validationViolations {bad} != {inputs['invalid']} on events")
    quarantined = 0
    for f in glob.glob(os.path.join(quarantine, "events", "*.json")):
        with open(f) as fh:
            quarantined += sum(1 for _ in fh)
    if quarantined != inputs["invalid"]:
        problems.append(f"{quarantined} quarantined rows != {inputs['invalid']} seeded")
    uid = read_stream_output(spark, os.path.join(out_dir, "events")).schema["user_id"]
    if uid.dataType.typeName() != "double":
        problems.append(f"events.user_id reads back as {uid.dataType.typeName()}")
    if result["state"] != inputs["state"]:
        problems.append("returned STATE is not the last STATE")
    with open(os.path.join(out_dir, "job_metrics.json")) as fh:
        if json.load(fh) != metrics:
            problems.append("job_metrics.json differs from the returned metrics")
    return problems


# ---------------------------------------------------------------------------
# streaming target, closed loop
# ---------------------------------------------------------------------------


def trickle(spark, files: list[str], work: str, seconds: float) -> dict:
    """Drop one file, wait for its micro-batch to commit, drop the next.
    The first file (it carries the SCHEMAs) warms up untimed.  Latency runs
    from the rename that makes a file visible to its commit marker
    appearing."""
    warm = 1
    drop = os.path.join(work, "drop")
    out = os.path.join(work, "out")
    os.makedirs(drop)
    query = SingerStreamTarget(spark, {"filepath": out}).start(drop)
    latencies: list[float] = []
    dropped = 0
    try:
        t_end = None
        for i, f in enumerate(files):
            if i == warm:
                t_end = time.perf_counter() + seconds
            elif t_end is not None and time.perf_counter() >= t_end:
                break
            marker = os.path.join(out, "_checkpoint", "commits", str(i))
            t0 = time.perf_counter()
            os.rename(f, os.path.join(drop, os.path.basename(f)))
            while not os.path.exists(marker):
                if query.exception() is not None:
                    raise RuntimeError(f"stream failed: {query.exception()}")
                if time.perf_counter() - t0 > 120:
                    raise TimeoutError(f"file {i} not committed after 120 s")
                time.sleep(0.002)
            dropped += 1
            if i >= warm:
                latencies.append(time.perf_counter() - t0)
    finally:
        query.stop()
    durations = {
        p["batchId"]: p["durationMs"]["triggerExecution"] / 1000
        for p in query.recentProgress
    }
    return {
        "latencies": latencies,
        "batch_s": [durations[b] for b in range(warm, dropped) if b in durations],
        "dropped": dropped,
        "out": out,
        "run_id": str(query.runId),
    }


def check_trickle(res: dict, counts: list[dict]) -> list[str]:
    want: dict[str, int] = {}
    for c in counts[: res["dropped"]]:
        for s, n in c.items():
            want[s] = want.get(s, 0) + n
    problems = []
    for s, n in want.items():
        got = ds.dataset(os.path.join(res["out"], s), format="parquet").count_rows()
        if got != n:
            problems.append(f"{s}: {got} rows written, {n} dropped")
    return problems


# ---------------------------------------------------------------------------
# layer probes (traced run only)
# ---------------------------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _versions(env) -> list[dict]:
    """Stream-versions in arrival order, as the batch target routes them:
    a RECORD belongs to the latest earlier SCHEMA of its stream."""
    rows = (
        env.filter(F.col("msg_type") == "SCHEMA")
        .select("_mid", "stream", "schema_json", "key_properties")
        .orderBy("_mid")
        .collect()
    )
    out, last = [], {}
    for r in rows:
        v = {"stream": r.stream, "mid": r["_mid"], "end": None,
             "schema": json.loads(r.schema_json), "keys": list(r.key_properties or [])}
        if r.stream in last:
            last[r.stream]["end"] = v["mid"]
        last[r.stream] = v
        out.append(v)
    return out


def _timed_ms(fn, reps: int = 5) -> float:
    """Median wall of ``reps`` calls of a driver-side function, in ms."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    walls.sort()
    return walls[len(walls) // 2] * 1000


def layer_probes(spark, tracer, path: str, work: str, op: str) -> dict:
    """Time every ingest layer on ``path``; returns per-layer metrics."""
    m: dict[str, float] = {}
    env = parse_envelope(spark.read.text(path))
    with tracer.span("singer_source.envelope", op) as sp:
        _noop(env)
    m["singer_source.envelope_s"] = sp.wall
    env = env.persist()
    env.count()
    cached = []
    try:
        versions = _versions(env)
        by_stream: dict[str, list] = {}
        for v in versions:
            by_stream.setdefault(v["stream"], []).append(v)

        def resolve():
            for v in versions:
                v["fields"] = resolve_schema(v["schema"])
            for vs in by_stream.values():
                over = widen_versions([v["fields"] for v in vs]) if len(vs) > 1 else {}
                for v in vs:
                    v["fields"] = [over.get(f.name, f) for f in v["fields"]]

        with tracer.span("schema.resolve", op):
            m["schema.resolve_ms"] = _timed_ms(resolve)

        def compile_all():
            for v in versions:
                v["pred"] = compile_predicate(
                    v["schema"], source_col="_rec", raw_json_col="record_json",
                    declared_cols=[f.name for f in v["fields"]],
                )

        with tracer.span("validation.compile", op):
            m["validation.compile_ms"] = _timed_ms(compile_all)

        decode_s = eval_s = write_s = 0.0
        invalid = 0
        sink = ParquetStreamSink(
            {"filepath": os.path.join(work, "probe_out"), "file_naming_scheme": "{stream}"}
        )
        for v in versions:
            cond = (
                (F.col("msg_type") == "RECORD")
                & (F.col("stream") == v["stream"])
                & (F.col("_mid") > v["mid"])
            )
            if v["end"] is not None:
                cond = cond & (F.col("_mid") < v["end"])
            records = env.filter(cond)
            with tracer.span("singer_source.decode", op) as sp:
                _noop(decode_records_jvm(records, v["fields"]))
            decode_s += sp.wall
            parsed = records.withColumn(
                "_rec", F.from_json("record_json", raw_record_struct(v["fields"]))
            ).persist()
            parsed.count()
            cached.append(parsed)
            with tracer.span("validation.eval", op) as sp:
                row = parsed.agg(
                    F.sum(F.when(~v["pred"], 1).otherwise(0)).alias("bad")
                ).collect()[0]
            eval_s += sp.wall
            invalid += int(row["bad"] or 0)
            typed = decode_records_jvm(records, v["fields"]).persist()
            typed.count()
            cached.append(typed)
            with tracer.span("parquet_sink.write", op) as sp:
                sink.write(v["stream"], typed, key_properties=v["keys"])
            write_s += sp.wall
        files, nbytes = dir_bytes(sink.root)
        m.update({
            "singer_source.decode_s": decode_s,
            "validation.eval_s": eval_s,
            "validation.invalid_rows": invalid,
            "parquet_sink.write_s": write_s,
            "parquet_sink.files": files,
            "parquet_sink.bytes": nbytes,
        })
    finally:
        for df in cached:
            df.unpersist()
        env.unpersist()
    return m
