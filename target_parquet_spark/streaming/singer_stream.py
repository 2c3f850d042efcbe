"""Unbounded Singer ingestion via Structured Streaming.

The reference processes an unbounded stdin pipe single-threaded on the
driver and flushes every 10k records (reference target_parquet/sinks.py:118
batch buffer; singer-sdk drain loop).  The Spark-native shape:

- source: ``spark.readStream.text(dir)`` over a drop-directory of Singer
  message files (the file source is the durable stand-in for a stdin pipe;
  any line-oriented streaming source — Kafka, socket — plugs in the same).
- ``foreachBatch``: each micro-batch IS the reference's batch buffer (B1).
  It runs the batch target's job plan over its persisted envelope:

  1. **Control collect** (1 job, which also fills the cache): the batch's
     SCHEMA rows, applied to the registry in arrival order.
  2. **Census** (the batch target's ``take_census``; 2 jobs under AQE):
     RECORD count per registered stream, the first orphan RECORD, the last
     STATE, key-null counts, and invalid counts when strict or quarantine
     mode needs them.  Contract checks fail the batch here, before any
     write.
  3. **Writes** (1 job per stream with RECORDs in the batch): records are
     parsed once, coerced and appended.  A quarantine write is added only
     for a stream the census found invalid records in.
- the checkpoint directory is Spark's commit log == Singer STATE (S4): on
  restart, already-committed files are not re-ingested.  The latest STATE
  message seen is additionally written to ``state.json`` per epoch so a
  downstream tap-orchestrator can read it exactly as it would read the
  reference's stdout state emission.

Schema registry semantics: a SCHEMA message governs all RECORDs of its
stream — across micro-batches — until re-declared; within one micro-batch
every RECORD of a stream decodes under the stream's latest SCHEMA (schema
evolution → version-append + mergeSchema read, BUG-4 fixed; reference
tests/README.md:73-87).  The registry lives on the driver (exactly where
the reference kept its sink registry, reference writers.py:14-24) and is
persisted to ``_schema_registry.json`` in the output root after every
SCHEMA message — committed micro-batches are NOT replayed on restart, so
a relaunched target reloads stream DDL from the sidecar, not the stream.
Policy differences from the batch target: a RECORD for a stream with no
registered SCHEMA fails the query in strict mode only (lenient skips it:
in a long-lived stream the SCHEMA may simply be in flight), and strict
mode rejects invalid records but not nulls in non-nullable columns.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from target_parquet_spark.io.parquet_sink import ParquetStreamSink
from target_parquet_spark.io.singer_source import parse_envelope
from target_parquet_spark.schema import resolve_schema
from target_parquet_spark.target import (
    SingerValidationError,
    Version,
    enforce_census,
    quarantine_invalid,
    take_census,
)

__all__ = ["SingerStreamTarget"]


class SingerStreamTarget:
    """Streaming Singer target.  Config keys are the batch target's
    (filepath, file_naming_scheme, compression, fixed_headers,
    partition_cols, max_records_per_file) plus ``checkpoint``."""

    def __init__(self, spark: SparkSession, config: dict | None = None):
        self.spark = spark
        self.config = dict(config or {})
        # A STREAMING target must resolve each stream to the SAME
        # directory on every relaunch: the batch default
        # "{stream}-{timestamp}" would fragment output across restarts,
        # break the widening rewrite (it would probe a fresh empty dir),
        # and reset metrics.  Timestamped names remain available by
        # configuring file_naming_scheme explicitly.
        self.config.setdefault("file_naming_scheme", "{stream}")
        self.sink = ParquetStreamSink(self.config)
        self.checkpoint = self.config.get("checkpoint") or os.path.join(
            self.sink.root, "_checkpoint"
        )
        # remote-$ref resolution config, identical to the batch target's
        # (ref_base_dir / ref_registry / ref_registry_path sidecar file)
        self.ref_base_dir = self.config.get("ref_base_dir")
        self.ref_registry = self.config.get("ref_registry")
        reg_path = self.config.get("ref_registry_path")
        if reg_path:
            from target_parquet_spark.validation import load_ref_registry

            loaded = load_ref_registry(reg_path)
            self.ref_registry = {**loaded, **(self.ref_registry or {})}
        # stream -> (schema dict, key_properties, version_idx,
        #            widened column map {name: [type_id, format]})
        self._registry: dict[str, tuple] = {}
        self._metrics: dict[str, int] = {}
        self._load_registry()
        self._load_metrics()

    # -- public API ----------------------------------------------------------

    def start(self, input_dir: str, available_now: bool = False):
        """Begin ingesting ``*.jsonl``-style Singer line files dropped into
        ``input_dir``.  Returns the StreamingQuery."""
        lines = self.spark.readStream.text(input_dir)
        writer = (
            lines.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint)
            .queryName("singer-stream-target")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- micro-batch processor ----------------------------------------------

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        strict = bool(self.config.get("strict_validation"))
        # Quarantine is a lenient-mode option: strict fails the batch first.
        quarantine = None if strict else self.config.get("quarantine_path")
        validate = strict or bool(quarantine)
        env = parse_envelope(batch_df).persist()
        try:
            self._apply_schemas(env)
            versions = self._versions(validate)
            census = take_census(env, versions, validate)
            if census.orphan is not None and strict:
                raise SingerValidationError(
                    f"RECORD for stream {census.orphan!r} arrived before its "
                    "SCHEMA message"
                )
            enforce_census(census, versions, strict)
            seen = [v for v in versions if census.counts[v.k]]
            for v in seen:
                n_bad = census.invalid[v.k] if quarantine else 0
                if v.fields:
                    parsed = v.parse(env)
                    if n_bad:
                        parsed = quarantine_invalid(parsed, v.pred, v.stream, quarantine)
                    self.sink.write(v.stream, v.decode(parsed), key_properties=v.key_properties)
                self._metrics[v.stream] = (
                    self._metrics.get(v.stream, 0) + census.counts[v.k] - n_bad
                )
            if seen:
                self._write_metrics()
        finally:
            env.unpersist()
        if census.state is not None:
            payload = {"epoch": epoch_id, "state": census.state}
            with open(os.path.join(self.sink.root, "state.json"), "w") as fh:
                json.dump(payload, fh)

    def _versions(self, validate: bool) -> list[Version]:
        """One census Version per registered stream, under the stream's
        latest SCHEMA; the predicate is compiled only when the census
        evaluates it (``validate``)."""
        versions: list[Version] = []
        for stream, (schema, key_properties, _version, widened) in self._registry.items():
            fixed = (self.config.get("fixed_headers") or {}).get(stream)
            fields = self._apply_overrides(
                resolve_schema(schema, fixed_headers=fixed), widened
            )
            owns = (F.col("msg_type") == "RECORD") & (F.col("stream") == stream)
            v = Version(len(versions), stream, owns, fields, key_properties)
            if validate:
                v.compile(schema, self.ref_base_dir, self.ref_registry)
            versions.append(v)
        return versions

    def _apply_schemas(self, env: DataFrame) -> None:
        rows = (
            env.filter(F.col("msg_type") == "SCHEMA")
            .select("_mid", "stream", "schema_json", "key_properties")
            .collect()
        )
        from target_parquet_spark.schema import widen_versions

        for r in sorted(rows, key=lambda r: r["_mid"]):
            prev = self._registry.get(r.stream)
            version = prev[2] + 1 if prev else 0
            schema = json.loads(r.schema_json) if r.schema_json else {}
            # Mid-stream TYPE changes: accumulate widened column types
            # across versions (same contract as the batch target — parquet
            # mergeSchema cannot reconcile conflicting types, so the
            # output dir must be written widened to stay readable).  The
            # widened map persists in the registry and only grows.
            widened: dict[str, list] = dict(prev[3]) if prev else {}
            if prev is not None:
                fixed = (self.config.get("fixed_headers") or {}).get(r.stream)
                old_fields = self._apply_overrides(
                    resolve_schema(prev[0], fixed_headers=fixed), widened
                )
                new_fields = resolve_schema(schema, fixed_headers=fixed)
                fresh = widen_versions([old_fields, new_fields])
                if fresh:
                    # Columns already on disk under the NARROW type must be
                    # rewritten before any widened batch lands, or the dir
                    # becomes unreadable (mergeSchema cannot reconcile the
                    # types) — unlike the batch target, a stream cannot see
                    # future versions up front.  Only rewrite columns whose
                    # on-disk type actually differs from the widened target:
                    # widen_versions reports every conflict, including a tap
                    # re-declaring its original narrow schema after a past
                    # widening (standard on restart), where the fold lands
                    # back on the type already written — rewriting then would
                    # be an O(all data) directory swap per restart.
                    old_by_name = {f.name: f for f in old_fields}
                    need = {
                        name: f
                        for name, f in fresh.items()
                        if name not in old_by_name
                        or (old_by_name[name].type_id, old_by_name[name].format)
                        != (f.type_id, f.format)
                    }
                    if need:
                        self._rewrite_widened(r.stream, need)
                    for name, f in fresh.items():
                        widened[name] = [f.type_id, f.format]
            self._registry[r.stream] = (
                schema, list(r.key_properties or []), version, widened
            )
        if rows:
            self._save_registry()

    def _rewrite_widened(self, stream: str, fresh: dict) -> None:
        """One-time type-widening compaction of a stream's existing output:
        read the (pre-widening, internally consistent) directory, cast the
        newly-widened columns, swap the directory.  The streaming target is
        the single writer, so the swap races nobody; on an object store
        this is the same rewrite expressed as a compaction job.  Sidecars
        (non-parquet files) are preserved, and the rewrite keeps the
        sink's compression and partition layout (the data files of a
        partitioned stream live in key=value subdirs — the parquet probe
        walks recursively for exactly that reason)."""
        import shutil

        d = self.sink.stream_dir(stream)
        has_parquet = os.path.isdir(d) and any(
            f.endswith(".parquet")
            for _, _, files in os.walk(d)
            for f in files
        )
        if not has_parquet:
            return
        df = self.spark.read.option("mergeSchema", "true").parquet(d)
        from target_parquet_spark.schema import ResolvedField

        for name, f in fresh.items():
            if name in df.columns:
                rf = ResolvedField(name, f.type_id, f.format, True)
                df = df.withColumn(name, F.col(name).cast(rf.spark_type))
        tmp = d.rstrip("/") + ".widening"
        writer = df.write.mode("overwrite").option(
            "compression", self.sink.compression
        )
        partition_cols = (self.config.get("partition_cols") or {}).get(stream)
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(tmp)
        for side in os.listdir(d):
            if not side.endswith(".parquet") and not side.startswith("_SUCCESS"):
                src = os.path.join(d, side)
                if os.path.isfile(src):
                    shutil.copy2(src, os.path.join(tmp, side))
        # Crash-safe swap: move the old dir ASIDE first, so every failure
        # point leaves either the old or the new directory in place —
        # rmtree-then-rename had a window where a crash lost the stream.
        old = d.rstrip("/") + ".pre-widening"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(d, old)
        os.rename(tmp, d)
        shutil.rmtree(old, ignore_errors=True)

    @staticmethod
    def _apply_overrides(fields, widened: dict):
        from target_parquet_spark.schema import ResolvedField

        if not widened:
            return fields
        return [
            ResolvedField(f.name, widened[f.name][0], widened[f.name][1], True)
            if f.name in widened
            else f
            for f in fields
        ]

    def _load_metrics(self) -> None:
        """Resume recordCount totals across relaunches — committed batches
        are not replayed, so starting from zero would lose prior counts."""
        p = os.path.join(self.sink.root, "job_metrics.json")
        if os.path.isfile(p):
            try:
                with open(p) as fh:
                    self._metrics = dict(
                        json.load(fh).get("recordCount", {})
                    )
            except (OSError, ValueError):
                self._metrics = {}

    # -- registry persistence (restart DDL: batches are not replayed) --------

    @property
    def _registry_path(self) -> str:
        return os.path.join(self.sink.root, "_schema_registry.json")

    def _load_registry(self) -> None:
        if os.path.isfile(self._registry_path):
            with open(self._registry_path) as fh:
                raw = json.load(fh)
            self._registry = {
                s: (
                    v["schema"],
                    v["key_properties"],
                    v["version"],
                    v.get("widened", {}),
                )
                for s, v in raw.items()
            }

    def _save_registry(self) -> None:
        payload = {
            s: {
                "schema": schema,
                "key_properties": kp,
                "version": ver,
                "widened": widened,
            }
            for s, (schema, kp, ver, widened) in self._registry.items()
        }
        tmp = self._registry_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
        os.replace(tmp, self._registry_path)

    def _write_metrics(self) -> None:
        # Once per micro-batch — the reference rewrote this file per RECORD
        # (O(n^2) I/O anti-pattern, reference writers.py:52-74).
        with open(os.path.join(self.sink.root, "job_metrics.json"), "w") as fh:
            json.dump({"recordCount": dict(self._metrics)}, fh)
