"""The batch Singer target: message lines in, per-stream Parquet out.

End-to-end equivalent of the reference's CLI pipeline (reference
target_parquet/target.py + singer-sdk Target.listen), restructured for
Spark's execution model:

- ONE text scan; envelope parse and RECORD decoding/coercion are Catalyst
  plans that run on executors (S1/S3).  The parsed envelope is cached and
  every later step reads the cache.
- A run is a fixed job plan, whatever the number of stream-versions:

  1. **Control collect** (1 job, which also fills the cache): the SCHEMA
     rows, ordered by arrival on the driver.  Stream DDL is driver-side by
     nature (S2).
  2. **Census** (one global aggregate; 2 jobs under AQE): a version index
     ``_v`` routes every RECORD to its stream-version by arrival order
     (``_mid`` ranges), and the same aggregate yields the RECORD count per
     version, the first orphan RECORD, the last STATE (S4), the key-null
     counts, and the invalid / non-nullable-null counts when strict or
     quarantine mode needs them.  Every contract check fails the run here,
     before anything is written.
  3. **Writes** (1 job per non-empty stream-version): each parses its
     records once, coerces them and appends them to the stream's Parquet
     directory (B1/B2/W1-W4; BUG-4 fixed by version-append + mergeSchema
     read).  A quarantine write is added only for a version the census
     found invalid records in.
- ``job_metrics.json`` is written ONCE per run — the reference rewrote it
  per record, an O(n²) anti-pattern called out in SURVEY §4 (reference
  writers.py:52-74).

Validation (V1-V4): the compiled predicate runs JVM-side.  Lenient
(default): invalid records pass through and the violation count is
observed on the write itself (the reference silently passes the raw
record, sinks.py:136-139).  Strict: any invalid record fails the run
*before* anything is written.  BUG-2 fix: nulls in non-nullable columns
are counted the same way — strict rejects, lenient writes a readable file
with nulls.
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from target_parquet_spark.coerce import coerce_columns
from target_parquet_spark.io.parquet_sink import ParquetStreamSink
from target_parquet_spark.io.singer_source import (
    decode_records_exact,
    parse_envelope,
    raw_record_struct,
)
from target_parquet_spark.schema import ResolvedField, resolve_schema, widen_versions
from target_parquet_spark.validation import compile_predicate

__all__ = ["SingerTarget", "SingerValidationError"]


class SingerValidationError(Exception):
    pass


def enforce_undeclared_keys(stream, fields, key_properties) -> None:
    """Key properties must be resolvable columns, or the key-integrity
    check is silently vacuous — exactly the malformed-schema case most
    likely to carry keyless records.  Also fails a fixed_headers
    projection that drops its own primary key.  Shared by the batch and
    streaming targets so the two contracts cannot drift."""
    undeclared_keys = sorted(set(key_properties) - {f.name for f in fields})
    if undeclared_keys:
        raise SingerValidationError(
            f"stream {stream!r}: key_properties {undeclared_keys} are "
            "not declared in the schema properties (or were projected "
            "away by fixed_headers)"
        )


def quarantine_invalid(parsed, pred, stream, quarantine_root):
    """Reroute invalid records to <quarantine_root>/<stream>/ as JSON
    lines carrying the raw Singer record text (re-playable: wrap each
    line back into a RECORD message once the tap is fixed); returns the
    valid rows for the caller's main sink.  Callers run it only for a
    stream-version whose census counted invalid records: an unconditional
    write job would litter an empty directory per clean stream-version
    (which replay tooling would then pick up).  Shared by the batch and
    streaming targets."""
    bad = parsed.filter(~pred).select(F.lit(stream).alias("stream"), "record_json")
    bad.write.mode("append").json(os.path.join(quarantine_root, stream))
    return parsed.filter(pred)


class Version:
    """One stream-version as the census and its write see it: the RECORD
    rows it owns (``owns``, a condition on the envelope), the fields they
    decode into, and ``col``, the column its parsed records live in — the
    column its compiled predicate (``pred``) reads.  ``not_null`` lists
    the columns whose nulls fail the run (strict mode)."""

    def __init__(
        self,
        k: int,
        stream: str,
        owns: Column,
        fields: list[ResolvedField],
        key_properties: list[str],
    ):
        self.k = k
        self.stream = stream
        self.owns = owns
        self.fields = fields
        self.key_properties = key_properties
        self.col = f"_rec{k}"
        self.pred: Column | None = None
        self.not_null: list[str] = []

    @property
    def key_cols(self) -> list[str]:
        keys = set(self.key_properties)
        return [f.name for f in self.fields if f.name in keys]

    def compile(self, schema: dict, ref_base_dir=None, ref_registry=None) -> None:
        self.pred = compile_predicate(
            schema,
            source_col=self.col,
            raw_json_col="record_json",
            declared_cols=[f.name for f in self.fields],
            ref_base_dir=ref_base_dir,
            ref_registry=ref_registry,
        )

    def parse(self, env: DataFrame) -> DataFrame:
        """This version's RECORDs, with ``record_json`` parsed once into
        ``col``."""
        return env.filter(self.owns).withColumn(
            self.col, F.from_json(F.col("record_json"), raw_record_struct(self.fields))
        )

    def decode(self, parsed: DataFrame) -> DataFrame:
        return parsed.select(*coerce_columns(self.fields, source_col=self.col))


class Census(NamedTuple):
    counts: list[int]  # RECORDs per version
    invalid: list[int]  # predicate failures per version (validate only)
    missing_keys: list[list[str]]  # key columns with a null, per version
    nulls: list[list[str]]  # ``not_null`` columns with a null, per version
    orphan: str | None  # stream of the first RECORD no version owns
    state: object  # the last STATE message's value, parsed


def take_census(env: DataFrame, versions: list[Version], validate: bool) -> Census:
    """One global aggregate over the cached envelope.  ``_v`` is the index
    of the version that owns a RECORD (null for SCHEMA/STATE rows and for
    orphans).  Each record is parsed by its own version's struct only:
    the key fields, or every field when ``validate`` asks for the
    predicate and the non-nullable checks.  RECORDs with a null
    ``stream`` belong to no stream and are not orphans: they are dropped.
    Shared by the batch and streaming targets; each applies its own
    policy to ``orphan``."""
    v_idx = F.lit(None).cast("int")
    if versions:
        v_idx = F.when(versions[0].owns, versions[0].k)
        for v in versions[1:]:
            v_idx = v_idx.when(v.owns, v.k)
    framed = env.withColumn("_v", v_idx)
    on = {v.k: F.col("_v") == v.k for v in versions}
    parsed = []
    for v in versions:
        keys = set(v.key_cols)
        fields = v.fields if validate else [f for f in v.fields if f.name in keys]
        if fields:
            struct = raw_record_struct(fields)
            parsed.append(
                F.when(on[v.k], F.from_json(F.col("record_json"), struct)).alias(v.col)
            )
    framed = framed.select("*", *parsed)

    def n(cond: Column) -> Column:
        return F.count(F.when(cond, 1))

    def null_in(v: Version, c: str) -> Column:
        return n(on[v.k] & F.col(f"{v.col}.`{c}`").isNull())

    slots: list[tuple] = []  # (kind, version index, column name, aggregate)
    for v in versions:
        slots.append(("count", v.k, None, n(on[v.k])))
        slots += [("key", v.k, c, null_in(v, c)) for c in v.key_cols]
        if validate and v.fields:
            slots.append(("invalid", v.k, None, n(on[v.k] & ~v.pred)))
            slots += [("null", v.k, c, null_in(v, c)) for c in v.not_null]
    orphan_at = F.when(
        (F.col("msg_type") == "RECORD")
        & F.col("stream").isNotNull()
        & F.col("_v").isNull(),
        F.col("_mid"),
    )
    state_at = F.when(F.col("msg_type") == "STATE", F.col("_mid"))
    row = framed.agg(
        F.min_by("stream", orphan_at).alias("orphan"),
        F.max_by("state_json", state_at).alias("state"),
        *[agg.alias(f"c{i}") for i, (*_, agg) in enumerate(slots)],
    ).collect()[0]

    k = len(versions)
    c = Census([0] * k, [0] * k, [[] for _ in range(k)], [[] for _ in range(k)],
               row["orphan"], json.loads(row["state"]) if row["state"] else None)
    for i, (kind, vk, name, _) in enumerate(slots):
        got = row[f"c{i}"]
        if kind == "count":
            c.counts[vk] = got
        elif kind == "invalid":
            c.invalid[vk] = got
        elif got:
            (c.missing_keys if kind == "key" else c.nulls)[vk].append(name)
    return c


def enforce_census(census: Census, versions: list[Version], strict: bool) -> None:
    """Fail on the first non-empty version, in version order, that breaks
    the contract.  Key integrity (SDK "record missing key property"
    standard test) holds in every validation mode: every declared key
    property must be present and non-null in every record.  Strict mode
    also rejects invalid records and nulls in non-nullable columns."""
    for v in versions:
        if not census.counts[v.k]:
            continue
        enforce_undeclared_keys(v.stream, v.fields, v.key_properties)
        if census.missing_keys[v.k]:
            raise SingerValidationError(
                f"stream {v.stream!r}: record(s) missing key_properties "
                f"{sorted(census.missing_keys[v.k])}"
            )
        if strict and census.invalid[v.k]:
            raise SingerValidationError(
                f"stream {v.stream!r}: {census.invalid[v.k]} record(s) failed "
                "schema validation"
            )
        if census.nulls[v.k]:
            raise SingerValidationError(
                f"stream {v.stream!r}: null in non-nullable column "
                f"{census.nulls[v.k][0]!r}"
            )


class SingerTarget:
    """Batch Singer target.  ``config`` keys (all the reference's, honored
    for real): filepath, file_naming_scheme, compression, fixed_headers,
    strict_validation, partition_cols, max_records_per_file, exact_compat,
    quarantine_path (lenient mode: invalid records land there instead of
    the main sink), ref_base_dir (local-file $ref resolution root),
    ref_registry / ref_registry_path (offline remote-$ref store — inline
    dict / sidecar JSON file of {url: schema_document}; path entries are
    overridable by inline ones).
    """

    def __init__(self, spark: SparkSession, config: dict | None = None):
        self.spark = spark
        self.config = config or {}
        self.sink = ParquetStreamSink(self.config)
        self.exact = bool(self.config.get("exact_compat", False))
        self.strict = bool(self.config.get("strict_validation", False))
        # Quarantine is a lenient-mode option: strict fails the run first.
        self.quarantine = None if self.strict else self.config.get("quarantine_path")
        self.ref_base_dir = self.config.get("ref_base_dir")
        # remote-$ref registry: inline dict (ref_registry) or sidecar
        # JSON file (ref_registry_path — the --config-friendly form,
        # VERDICT r8 #7); loaded ONCE at startup, failing loudly on a
        # malformed file rather than leaving remote refs permissive.
        self.ref_registry = self.config.get("ref_registry")
        reg_path = self.config.get("ref_registry_path")
        if reg_path:
            from target_parquet_spark.validation import load_ref_registry

            loaded = load_ref_registry(reg_path)
            self.ref_registry = {**loaded, **(self.ref_registry or {})}

    # -- entry points --------------------------------------------------------

    def run_strings(self, lines: list[str]) -> dict:
        df = self.spark.createDataFrame([(l,) for l in lines], "value string")
        return self.run_lines(df)

    def run_path(self, path: str) -> dict:
        return self.run_lines(self.spark.read.text(path))

    def run_lines(self, lines: DataFrame) -> dict:
        env = parse_envelope(lines).cache()
        try:
            schemas = self._collect_schemas(env)
            versions = self._plan_versions(schemas)
            census = take_census(env, versions, validate=self.strict or bool(self.quarantine))
            if census.orphan is not None:
                # Contract parity (SDK "record before schema" standard
                # test): a RECORD whose stream has no SCHEMA yet — never
                # declared, or declared only later in the pipe.
                raise SingerValidationError(
                    f"RECORD for stream {census.orphan!r} arrived before its "
                    "SCHEMA message"
                )
            enforce_census(census, versions, self.strict)
            metrics = self._write_versions(env, versions, census)
        finally:
            env.unpersist()
        self._write_job_metrics(metrics)
        return {
            "state": census.state,
            "metrics": metrics,
            "paths": {s: self.sink.stream_dir(s) for s in schemas},
        }

    # -- driver-side DDL -----------------------------------------------------

    def _collect_schemas(self, env: DataFrame) -> dict[str, list[tuple]]:
        """stream -> [(mid, schema, key_properties)] in arrival order.  The
        rows are few, so they are sorted here, not by a shuffle."""
        rows = (
            env.filter(F.col("msg_type") == "SCHEMA")
            .select("_mid", "stream", "schema_json", "key_properties")
            .collect()
        )
        schemas: dict[str, list[tuple]] = {}
        for r in sorted(rows, key=lambda r: r["_mid"]):
            schema = json.loads(r.schema_json) if r.schema_json else {}
            # Contract parity (SDK "invalid schema" standard test): a SCHEMA
            # message whose schema is not an object, or whose `properties`
            # is not a mapping, is a hard error.  A MISSING/empty
            # `properties` stays accepted (SDK "schema with no properties").
            if not isinstance(schema, dict) or not isinstance(
                schema.get("properties", {}), dict
            ):
                raise SingerValidationError(
                    f"stream {r.stream!r}: SCHEMA message carries an invalid "
                    f"JSON schema: {r.schema_json[:200]}"
                )
            schemas.setdefault(r.stream, []).append(
                (r["_mid"], schema, list(r.key_properties or []))
            )
        return schemas

    def _plan_versions(self, schemas: dict[str, list[tuple]]) -> list[Version]:
        """One Version per SCHEMA message: it owns the RECORDs of its
        stream after it and before the stream's next SCHEMA."""
        versions: list[Version] = []
        for stream, decls in schemas.items():
            fixed = (self.config.get("fixed_headers") or {}).get(stream)
            resolved = [resolve_schema(schema, fixed_headers=fixed) for _, schema, _ in decls]
            # Mid-stream TYPE changes: parquet mergeSchema cannot reconcile
            # conflicting column types, so conflicting versions widen to a
            # common supertype at write time (schema.widen_versions) — the
            # output directory stays readable, upholding the BUG-2/BUG-4
            # fix contract.  Batch mode sees all versions up front, so the
            # widening is exact, not heuristic.
            overrides = widen_versions(resolved) if len(decls) > 1 else {}
            for i, ((mid, schema, keys), fields) in enumerate(zip(decls, resolved)):
                owns = (
                    (F.col("msg_type") == "RECORD")
                    & (F.col("stream") == stream)
                    & (F.col("_mid") > mid)
                )
                if i + 1 < len(decls):
                    owns = owns & (F.col("_mid") < decls[i + 1][0])
                fields = [overrides.get(f.name, f) for f in fields]
                v = Version(len(versions), stream, owns, fields, keys)
                v.compile(schema, self.ref_base_dir, self.ref_registry)
                if self.strict:
                    v.not_null = [f.name for f in fields if not f.nullable]
                versions.append(v)
        return versions

    # -- record path ---------------------------------------------------------

    def _write_versions(self, env: DataFrame, versions: list[Version], census: Census) -> dict:
        counts: dict[str, int] = {}
        violations: dict[str, int] = {}
        for v in versions:
            n = census.counts[v.k]
            if not n:
                continue
            # SDK "schema with no properties" standard test: a declared
            # stream with zero resolvable columns is processed (counted)
            # without writing a zero-column parquet file.
            written, bad = (
                self._write_version(env, v, n, census.invalid[v.k]) if v.fields else (n, 0)
            )
            counts[v.stream] = counts.get(v.stream, 0) + written
            violations[v.stream] = violations.get(v.stream, 0) + bad
        return {"recordCount": counts, "validationViolations": violations}

    def _write_version(
        self, env: DataFrame, v: Version, n: int, n_invalid: int
    ) -> tuple[int, int]:
        """Append one version's ``n`` records; returns (records written,
        violations)."""
        parsed = v.parse(env)
        # Quarantine (lenient mode only — strict already failed): invalid
        # records are REROUTED to <quarantine_path>/<stream>/ and the main
        # sink receives only valid rows — the badRecordsPath pattern SURVEY
        # V4 sketches.  Without the option, lenient keeps the reference's
        # pass-through (reference sinks.py:136-139).
        quarantined = 0
        if self.quarantine and n_invalid:
            parsed = quarantine_invalid(parsed, v.pred, v.stream, self.quarantine)
            quarantined = n_invalid
        obs = None
        if self.exact:
            typed = decode_records_exact(parsed, v.fields)
        else:
            if not self.strict and not self.quarantine:
                # plain lenient: the violation count rides the write
                obs = Observation(f"{v.stream}-v{v.k}")
                parsed = parsed.observe(
                    obs, F.count(F.when(~v.pred, 1)).alias("invalid")
                )
            typed = v.decode(parsed)
        self.sink.write(v.stream, typed, key_properties=v.key_properties)
        if obs is not None:
            return n, int(obs.get["invalid"])
        return n - quarantined, quarantined

    # -- metrics -------------------------------------------------------------

    def _write_job_metrics(self, metrics: dict) -> None:
        path = os.path.join(self.sink.root, "job_metrics.json")
        with open(path, "w") as fh:
            json.dump(metrics, fh, indent=2)
