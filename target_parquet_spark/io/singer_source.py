"""Singer message source: newline-delimited JSON -> typed per-stream DataFrames.

The reference reads stdin line-by-line on the driver thread and dispatches
each message in Python (S1, reference target_parquet/target.py:34-35 via
singer-sdk Target.listen).  Spark-first: the whole pipe content becomes a
text DataFrame, the envelope is parsed JVM-side with ``from_json``, and
message dispatch (SCHEMA / RECORD / STATE) is a filter — so RECORD parsing
and coercion scale across executors while only the (rare, tiny) SCHEMA and
STATE messages are collected to the driver.

Two record-decoding paths:

- **jvm** (default, the scale path): ``from_json(record, all-string
  struct)`` captures each declared field's raw JSON text, then coerce.py's
  Column expressions produce the typed columns.  Whole-stage codegen, zero
  Python in the hot loop.  A ``format: date-time`` field keeps its
  projection in expression-level generated code instead: the non-ISO
  format chain is an interpreted lambda (coerce.lenient_timestamp), which
  Spark does not fuse into a whole stage.
- **exact** (compat path): ``mapInPandas`` applies Python-semantics
  coercion (``str(True) == "True"``, ``json.dumps`` nested serialization,
  dateutil-grade timestamp parsing) — Arrow-batched, used when byte-level
  parity with the reference's Python ``str()``/``json.dumps`` spellings
  matters (reference sinks.py:96-110).
"""

from __future__ import annotations

import datetime as _dt
import json
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from target_parquet_spark.coerce import coerce_columns
from target_parquet_spark.schema import ResolvedField

__all__ = [
    "ENVELOPE_SCHEMA",
    "parse_envelope",
    "raw_record_struct",
    "decode_records_jvm",
    "decode_records_exact",
]

# Envelope of every Singer message type.  ``schema`` and ``record`` are
# declared StringType so Spark captures the nested JSON subtree as raw text
# (the engine's row-raw representation).
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("stream", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("key_properties", T.ArrayType(T.StringType())),
        T.StructField("record", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)


def parse_envelope(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """Text lines -> parsed envelope + ``_mid`` arrival-order id.

    ``monotonically_increasing_id`` is monotone in file order for a text
    scan, which is exactly the ordering Singer semantics need: a RECORD
    belongs to the latest preceding SCHEMA of its stream.
    """
    return (
        lines.withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_msg", F.from_json(F.col(value_col), ENVELOPE_SCHEMA))
        .select(
            "_mid",
            F.col("_msg.type").alias("msg_type"),
            F.col("_msg.stream").alias("stream"),
            F.col("_msg.schema").alias("schema_json"),
            F.col("_msg.key_properties").alias("key_properties"),
            F.col("_msg.record").alias("record_json"),
            F.col("_msg.value").alias("state_json"),
        )
    )


def raw_record_struct(fields: list[ResolvedField]) -> T.StructType:
    """All-string struct used to raw-capture each declared field."""
    return T.StructType([T.StructField(f.name, T.StringType(), True) for f in fields])


def decode_records_jvm(records: DataFrame, fields: list[ResolvedField]) -> DataFrame:
    """The JVM hot path: raw-capture parse + vectorized coercion select.
    The targets run the same two steps through ``target.Version.parse``
    and ``Version.decode``, so that the write's validation count reads
    the one parse too."""
    parsed = records.withColumn(
        "_rec", F.from_json(F.col("record_json"), raw_record_struct(fields))
    )
    return parsed.select(*coerce_columns(fields, source_col="_rec"))


# ---------------------------------------------------------------------------
# exact-compat path
# ---------------------------------------------------------------------------


def _parse_value_exact(value, rf: ResolvedField):
    """Python-semantics coercion of one already-json.loads'ed value.

    Behavioral parity with reference parse_record_value (sinks.py:72-112)
    with the lenient/bug-fixed policies of SURVEY §2.11: unparseable
    numerics/datetimes -> null instead of crashing, and the fuzzy-type
    resolution matches the schema path (BUG-3 fix).
    """
    if value is None:
        return None
    if rf.type_id == "null":
        # parity with the JVM path: a declared-only-null field is always
        # NULL regardless of the record value (coerce.py 'null' branch)
        return None
    if rf.type_id != "string" and value == "":
        return None  # C10
    try:
        if rf.type_id == "number":
            return float(value)
        if rf.type_id == "integer":
            return int(value)
        if rf.type_id == "boolean":
            if isinstance(value, bool):
                return value
            if isinstance(value, str):
                return {"true": True, "false": False}.get(value.lower())
            return bool(value)
        if rf.type_id == "string" and rf.format == "date-time":
            if isinstance(value, _dt.datetime):
                return value
            try:
                from dateutil import parser as _du

                return _du.parse(value)
            except ImportError:
                return _dt.datetime.fromisoformat(str(value).replace("Z", "+00:00"))
        if rf.type_id == "string":
            if isinstance(value, (list, dict)):
                return json.dumps(value, default=str)
            return str(value)  # Python spelling: True -> "True", 42 -> "42"
        if isinstance(value, (list, dict)):
            return json.dumps(value, default=str)
        return str(value)
    except (ValueError, TypeError, OverflowError):
        return None  # lenient repair: malformed -> null (C11 / BUG-2 posture)


def decode_records_exact(records: DataFrame, fields: list[ResolvedField]) -> DataFrame:
    """Arrow-batched exact-compat decode via ``mapInPandas``."""
    import pandas as pd

    out_schema = T.StructType([f.struct_field for f in fields])
    # Parquet/Arrow want tz-naive UTC; normalize what dateutil returns.
    field_list = list(fields)

    def _batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for txt in pdf["record_json"]:
                # Tolerate malformed payloads exactly like the JVM path:
                # from_json yields a null struct for non-object records
                # (arrays, scalars, broken JSON) -> every field null here.
                try:
                    rec = json.loads(txt) if txt else {}
                except (ValueError, TypeError):
                    rec = {}
                if not isinstance(rec, dict):
                    rec = {}
                row = {}
                for rf in field_list:
                    v = _parse_value_exact(rec.get(rf.name), rf)
                    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
                        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                    row[rf.name] = v
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in field_list])

    return records.select("record_json").mapInPandas(_batches, schema=out_schema)
