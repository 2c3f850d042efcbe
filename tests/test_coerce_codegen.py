"""Date-time coercion must compile without Spark's codegen fallback.

With the 59-format dateutil chain inlined, every ``format: date-time``
column pushed the coercion projection past Janino's 64 KB method limit:
the compile failed and the stage fell back to interpreted code on every
call.  ``lenient_timestamp`` now keeps the chain in an interpreted
one-element lambda, so these tests turn the fallback off and require the
decode and the dateutil corpora to run and give the same values.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest

import test_r3_hardening as r3h


@pytest.fixture
def no_codegen_fallback(spark):
    key = "spark.sql.codegen.fallback"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield spark
    spark.conf.set(key, prev)


# raw value -> expected UTC-naive timestamp, one row per entry: ISO,
# non-ISO (format chain), a mapped zone abbreviation (ISO cast gated
# off), empty string, malformed text and JSON null.
_CASES = [
    ("2024-01-15T10:30:00Z", dt.datetime(2024, 1, 15, 10, 30)),
    ("2024-01-15T10:30:00.123456+02:00", dt.datetime(2024, 1, 15, 8, 30, 0, 123000)),
    ("Jan 15, 2024 10:30 PM", dt.datetime(2024, 1, 15, 22, 30)),
    ("Tuesday, June 3, 2021", dt.datetime(2021, 6, 3)),
    ("2024-07-15 10:30:00 CST", dt.datetime(2024, 7, 15, 16, 30)),
    ("", None),
    ("not a date", None),
    (None, None),
]


@pytest.mark.parametrize("n_fields", [1, 20])
def test_decode_date_times_compile(no_codegen_fallback, n_fields):
    from target_parquet_spark.io.singer_source import decode_records_jvm
    from target_parquet_spark.schema import resolve_schema

    spark = no_codegen_fallback
    names = [f"t{i}" for i in range(n_fields)]
    schema = {
        "type": "object",
        "properties": {
            "id": {"type": ["integer", "null"]},
            **{n: {"type": ["string", "null"], "format": "date-time"} for n in names},
        },
    }
    fields = resolve_schema(schema)
    # field i of row j holds case (i + j) so every column sees every case
    k = len(_CASES)
    recs = [
        json.dumps({"id": j, **{n: _CASES[(i + j) % k][0] for i, n in enumerate(names)}})
        for j in range(k)
    ]
    records = spark.createDataFrame([(r,) for r in recs], "record_json string")
    rows = sorted(decode_records_jvm(records, fields).collect(), key=lambda r: r.id)
    assert len(rows) == k
    for j, row in enumerate(rows):
        for i, n in enumerate(names):
            raw, want = _CASES[(i + j) % k]
            assert row[n] == want, f"{n}={raw!r}: got {row[n]!r}"


def test_dateutil_corpus_compiles(no_codegen_fallback):
    r3h.test_lenient_timestamp_matches_dateutil_corpus(no_codegen_fallback)


def test_tzinfos_corpus_compiles(no_codegen_fallback):
    r3h.test_lenient_timestamp_tzinfos_abbreviations(no_codegen_fallback)
