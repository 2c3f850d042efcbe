"""Singer message -> Parquet round-trip integration tests.

Mirrors the reference's integration suites (tests/test_integration.py and
tests/test_integration_types.py — the 16 fixture scenarios catalogued in
/root/repo/FIXTURES.md), asserting the FIXED behavior for BUG-1..4 per
SURVEY §2.11.  Pattern: build Singer lines -> SingerTarget.run_strings ->
read parquet back -> assert rows/schema/values.
"""

import datetime as dt
import json

import pytest
from pyspark.sql import types as T

from target_parquet_spark.io.parquet_sink import read_stream_output
from target_parquet_spark.target import SingerTarget, SingerValidationError


def msg_schema(stream, props, key_properties=None):
    return json.dumps(
        {
            "type": "SCHEMA",
            "stream": stream,
            "schema": {"type": "object", "properties": props},
            "key_properties": key_properties or [],
        }
    )


def msg_record(stream, record):
    return json.dumps({"type": "RECORD", "stream": stream, "record": record})


def msg_state(value):
    return json.dumps({"type": "STATE", "value": value})


def run(spark, tmp_out, lines, config=None):
    cfg = {"filepath": tmp_out, "file_naming_scheme": "{stream}"}
    cfg.update(config or {})
    target = SingerTarget(spark, cfg)
    return target, target.run_strings(lines)


def rows_of(spark, path):
    df = read_stream_output(spark, path)
    return df, [r.asDict() for r in df.collect()]


STR_NULL = {"type": ["string", "null"]}


# FIXTURES.md #1 — integer inputs into string columns (test_integration.py:34-50)
def test_users_int_to_string(spark, tmp_out):
    lines = [
        msg_schema("users", {"id": STR_NULL, "name": STR_NULL}),
        msg_record("users", {"id": 100, "name": "Alice"}),
        msg_record("users", {"id": 200, "name": "Bob"}),
    ]
    _, res = run(spark, tmp_out, lines)
    df, rows = rows_of(spark, res["paths"]["users"])
    assert df.schema == T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("name", T.StringType())]
    )
    assert sorted(rows, key=lambda r: r["id"]) == [
        {"id": "100", "name": "Alice"},
        {"id": "200", "name": "Bob"},
    ]
    assert res["metrics"]["recordCount"] == {"users": 2}


# FIXTURES.md #2 — fuzzy union type, both orders (BUG-3 fixed)
@pytest.mark.parametrize("type_list", [["string", "number"], ["number", "string"]])
def test_metrics_fuzzy_type(spark, tmp_out, type_list):
    lines = [
        msg_schema("metrics", {"id": STR_NULL, "value": {"type": type_list}}),
        msg_record("metrics", {"id": "1", "value": "text"}),
        msg_record("metrics", {"id": "2", "value": 42}),
    ]
    _, res = run(spark, tmp_out, lines)
    df, rows = rows_of(spark, res["paths"]["metrics"])
    assert dict(df.dtypes)["value"] == "string"
    by_id = {r["id"]: r["value"] for r in rows}
    assert by_id == {"1": "text", "2": "42"}


# FIXTURES.md #3 — falsy-safe booleans
def test_flags_falsy_safe(spark, tmp_out):
    lines = [
        msg_schema("flags", {"id": STR_NULL, "active": {"type": ["boolean", "null"]}}),
        msg_record("flags", {"id": "1", "active": True}),
        msg_record("flags", {"id": "2", "active": False}),
        msg_record("flags", {"id": "3", "active": None}),
    ]
    _, res = run(spark, tmp_out, lines)
    _, rows = rows_of(spark, res["paths"]["flags"])
    by_id = {r["id"]: r["active"] for r in rows}
    assert by_id == {"1": True, "2": False, "3": None}


# FIXTURES.md #4 — integers: 0 survives, "99"->99, ""->null
def test_counts_falsy_and_coercion(spark, tmp_out):
    lines = [
        msg_schema("counts", {"id": STR_NULL, "count": {"type": ["integer", "null"]}}),
        msg_record("counts", {"id": "1", "count": 0}),
        msg_record("counts", {"id": "2", "count": "99"}),
        msg_record("counts", {"id": "3", "count": ""}),
        msg_record("counts", {"id": "4", "count": None}),
    ]
    _, res = run(spark, tmp_out, lines)
    df, rows = rows_of(spark, res["paths"]["counts"])
    assert dict(df.dtypes)["count"] == "bigint"
    by_id = {r["id"]: r["count"] for r in rows}
    assert by_id == {"1": 0, "2": 99, "3": None, "4": None}


# FIXTURES.md #5 — floats falsy-safe, exact negatives
def test_prices_floats(spark, tmp_out):
    lines = [
        msg_schema("prices", {"id": STR_NULL, "price": {"type": ["number", "null"]}}),
        msg_record("prices", {"id": "1", "price": 0.0}),
        msg_record("prices", {"id": "2", "price": -0.5}),
        msg_record("prices", {"id": "3", "price": "19.99"}),
    ]
    _, res = run(spark, tmp_out, lines)
    _, rows = rows_of(spark, res["paths"]["prices"])
    by_id = {r["id"]: r["price"] for r in rows}
    assert by_id == {"1": 0.0, "2": -0.5, "3": 19.99}


# FIXTURES.md #6 — date-time parse, malformed -> NULL (C6/C11)
def test_events_ts_null_repair(spark, tmp_out):
    lines = [
        msg_schema(
            "events_ts",
            {"id": STR_NULL, "created_at": {"type": ["string", "null"], "format": "date-time"}},
        ),
        msg_record("events_ts", {"id": "1", "created_at": "2024-06-15T12:00:00Z"}),
        msg_record("events_ts", {"id": "2", "created_at": "not-a-date"}),
        msg_record("events_ts", {"id": "3", "created_at": None}),
    ]
    _, res = run(spark, tmp_out, lines)
    df, rows = rows_of(spark, res["paths"]["events_ts"])
    assert dict(df.dtypes)["created_at"] == "timestamp"
    by_id = {r["id"]: r["created_at"] for r in rows}
    assert by_id["1"] == dt.datetime(2024, 6, 15, 12, 0, 0)
    assert by_id["2"] is None and by_id["3"] is None


# FIXTURES.md #7 — BUG-1 FIXED: anyOf null variant kept, None stays null
def test_products_anyof_nullable(spark, tmp_out):
    lines = [
        msg_schema(
            "products",
            {"id": STR_NULL, "price": {"anyOf": [{"type": "number"}, {"type": "null"}]}},
        ),
        msg_record("products", {"id": "1", "price": 9.5}),
        msg_record("products", {"id": "2", "price": None}),
    ]
    _, res = run(spark, tmp_out, lines)
    df, rows = rows_of(spark, res["paths"]["products"])
    assert dict(df.dtypes)["price"] == "double"
    by_id = {r["id"]: r["price"] for r in rows}
    assert by_id == {"1": 9.5, "2": None}  # reference corrupted this to 0.0


# FIXTURES.md #8/#9 — arrays (incl. arrays of objects) -> JSON strings
def test_arrays_to_json_strings(spark, tmp_out):
    items = [{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]
    lines = [
        msg_schema(
            "data_arrays",
            {"id": STR_NULL, "scores": {"type": ["array", "null"]}, "line_items": {"type": ["array", "null"]}},
        ),
        msg_record("data_arrays", {"id": "1", "scores": [10, 20, 30], "line_items": items}),
        msg_record("data_arrays", {"id": "2", "scores": None, "line_items": None}),
    ]
    _, res = run(spark, tmp_out, lines)
    df, rows = rows_of(spark, res["paths"]["data_arrays"])
    assert dict(df.dtypes)["scores"] == "string"
    by_id = {r["id"]: r for r in rows}
    assert json.loads(by_id["1"]["scores"]) == [10, 20, 30]
    assert json.loads(by_id["1"]["line_items"]) == items
    assert by_id["2"]["scores"] is None


# FIXTURES.md #10 — objects: stringified passthrough + dict serialization
def test_objects_and_stringified_json(spark, tmp_out):
    payload = json.dumps({"k": [1, 2]})
    meta = {"outer": {"inner": [1, {"x": None}]}}
    lines = [
        msg_schema(
            "events_payload",
            {"id": STR_NULL, "payload": STR_NULL, "metadata": {"type": ["object", "null"]}},
        ),
        msg_record("events_payload", {"id": "1", "payload": payload, "metadata": meta}),
    ]
    _, res = run(spark, tmp_out, lines)
    _, rows = rows_of(spark, res["paths"]["events_payload"])
    assert rows[0]["payload"] == payload  # byte-identical passthrough
    assert json.loads(rows[0]["metadata"]) == meta


# FIXTURES.md #11 — fixed_headers projection (P1)
def test_fixed_headers(spark, tmp_out):
    lines = [
        msg_schema("contacts", {"id": STR_NULL, "name": STR_NULL, "email": STR_NULL}),
        msg_record("contacts", {"id": "1", "name": "A", "email": "a@x.com"}),
        msg_schema("others", {"id": STR_NULL, "email": STR_NULL}),
        msg_record("others", {"id": "9", "email": "z@x.com"}),
    ]
    _, res = run(
        spark, tmp_out, lines, config={"fixed_headers": {"contacts": ["id", "name"]}}
    )
    df, rows = rows_of(spark, res["paths"]["contacts"])
    assert df.columns == ["id", "name"]
    assert rows == [{"id": "1", "name": "A"}]
    df2, _ = rows_of(spark, res["paths"]["others"])
    assert df2.columns == ["id", "email"]  # unlisted stream unaffected


# FIXTURES.md #12 — strict vs lenient validation (V4)
def test_validation_lenient_passthrough(spark, tmp_out):
    lines = [
        msg_schema(
            "events_enum",
            {"id": {"type": "string"}, "status": {"type": "string", "enum": ["active", "inactive"]}},
        ),
        msg_record("events_enum", {"id": "1", "status": "invalid-value"}),
    ]
    _, res = run(spark, tmp_out, lines)
    _, rows = rows_of(spark, res["paths"]["events_enum"])
    assert rows == [{"id": "1", "status": "invalid-value"}]  # written as-is
    assert res["metrics"]["validationViolations"]["events_enum"] == 1


def test_validation_strict_fails(spark, tmp_out):
    lines = [
        msg_schema(
            "events_enum",
            {"id": {"type": "string"}, "status": {"type": "string", "enum": ["active", "inactive"]}},
        ),
        msg_record("events_enum", {"id": "1", "status": "invalid-value"}),
    ]
    with pytest.raises(SingerValidationError):
        run(spark, tmp_out, lines, config={"strict_validation": True})


# FIXTURES.md #13 — BUG-2 FIXED: null in non-nullable column
def test_bug2_null_in_required_strict(spark, tmp_out):
    lines = [
        msg_schema("strict", {"id": {"type": "string"}, "required_col": {"type": "string"}}),
        msg_record("strict", {"id": "1", "required_col": None}),
    ]
    with pytest.raises(SingerValidationError):
        run(spark, tmp_out, lines, config={"strict_validation": True})


def test_bug2_null_in_required_lenient_readable(spark, tmp_out):
    lines = [
        msg_schema("strict", {"id": {"type": "string"}, "required_col": {"type": "string"}}),
        msg_record("strict", {"id": "1", "required_col": None}),
    ]
    _, res = run(spark, tmp_out, lines)
    _, rows = rows_of(spark, res["paths"]["strict"])  # file IS readable
    assert rows == [{"id": "1", "required_col": None}]


# FIXTURES.md #14 — missing -> null, extra -> dropped (P2/P3)
def test_missing_and_extra_fields(spark, tmp_out):
    lines = [
        msg_schema("items", {"id": STR_NULL, "description": STR_NULL}),
        msg_record("items", {"id": "1"}),
        msg_record("items", {"id": "2", "description": "ok", "undeclared": "drop-me"}),
    ]
    _, res = run(spark, tmp_out, lines)
    df, rows = rows_of(spark, res["paths"]["items"])
    assert df.columns == ["id", "description"]
    by_id = {r["id"]: r["description"] for r in rows}
    assert by_id == {"1": None, "2": "ok"}


# FIXTURES.md #15 — multi-stream routing + state passthrough + multi-batch
def test_multistream_state_and_volume(spark, tmp_out):
    lines = [msg_state({"bookmark": 0})]
    lines.append(msg_schema("users", {"id": STR_NULL}))
    lines.append(msg_schema("orders", {"oid": STR_NULL}))
    for i in range(250):
        lines.append(msg_record("users", {"id": str(i)}))
        lines.append(msg_record("orders", {"oid": str(i * 10)}))
    lines.append(msg_state({"bookmark": 250}))
    _, res = run(spark, tmp_out, lines)
    assert res["state"] == {"bookmark": 250}
    assert res["metrics"]["recordCount"] == {"users": 250, "orders": 250}
    dfu, _ = rows_of(spark, res["paths"]["users"])
    assert dfu.count() == 250
    dfo, _ = rows_of(spark, res["paths"]["orders"])
    assert dfo.count() == 250


# FIXTURES.md #16 — BUG-4 FIXED: mid-stream schema evolution
def test_bug4_schema_evolution_add_column(spark, tmp_out):
    lines = [
        msg_schema("contacts", {"id": STR_NULL, "name": STR_NULL}),
        msg_record("contacts", {"id": "1", "name": "A"}),
        msg_schema("contacts", {"id": STR_NULL, "name": STR_NULL, "email": STR_NULL}),
        msg_record("contacts", {"id": "2", "name": "B", "email": "b@x.com"}),
    ]
    _, res = run(spark, tmp_out, lines)
    df, rows = rows_of(spark, res["paths"]["contacts"])
    assert set(df.columns) == {"id", "name", "email"}
    by_id = {r["id"]: r for r in rows}
    assert by_id["1"]["email"] is None
    assert by_id["2"]["email"] == "b@x.com"
    assert res["metrics"]["recordCount"] == {"contacts": 2}


def test_bug4_schema_evolution_remove_column(spark, tmp_out):
    lines = [
        msg_schema("contacts", {"id": STR_NULL, "name": STR_NULL, "email": STR_NULL}),
        msg_record("contacts", {"id": "1", "name": "A", "email": "a@x.com"}),
        msg_schema("contacts", {"id": STR_NULL, "name": STR_NULL}),
        msg_record("contacts", {"id": "2", "name": "B"}),
    ]
    _, res = run(spark, tmp_out, lines)
    df, rows = rows_of(spark, res["paths"]["contacts"])
    assert set(df.columns) == {"id", "name", "email"}
    assert {r["id"] for r in rows} == {"1", "2"}


# exact-compat path: Python str() spellings (reference C7, sinks.py:103-104)
def test_exact_compat_python_str_spellings(spark, tmp_out):
    lines = [
        msg_schema("spellings", {"id": STR_NULL, "s": STR_NULL}),
        msg_record("spellings", {"id": "1", "s": True}),
        msg_record("spellings", {"id": "2", "s": 42}),
    ]
    _, res = run(spark, tmp_out, lines, config={"exact_compat": True})
    _, rows = rows_of(spark, res["paths"]["spellings"])
    by_id = {r["id"]: r["s"] for r in rows}
    assert by_id == {"1": "True", "2": "42"}  # Python str(), not JSON true

    # key-properties sidecar (W4)
    import os

    assert not os.path.exists(
        os.path.join(res["paths"]["spellings"], "_corrupt")
    )


def test_key_properties_sidecar(spark, tmp_out):
    lines = [
        msg_schema("pk", {"id": STR_NULL}, key_properties=["id"]),
        msg_record("pk", {"id": "1"}),
    ]
    _, res = run(spark, tmp_out, lines)
    import os

    with open(os.path.join(res["paths"]["pk"], "_key_properties.json")) as fh:
        assert json.load(fh) == {"key_properties": ["id"]}


# Reference edge cases: test_no_records_no_crash, test_handles_empty_file,
# test_state_before_any_records_does_not_crash,
# test_schema_only_with_other_stream_having_records
def test_empty_input_no_crash(spark, tmp_out):
    _, res = run(spark, tmp_out, [])
    assert res["state"] is None
    assert res["metrics"]["recordCount"] == {}


def test_state_only_input(spark, tmp_out):
    _, res = run(spark, tmp_out, [msg_state({"bookmark": 7})])
    assert res["state"] == {"bookmark": 7}
    # the LAST STATE wins, even when its value is null
    _, res = run(spark, tmp_out, [msg_state({"bookmark": 7}), msg_state(None)])
    assert res["state"] is None


def test_schema_only_stream_writes_nothing_but_sibling_writes(spark, tmp_out):
    lines = [
        msg_schema("empty_stream", {"id": STR_NULL}),
        msg_schema("full_stream", {"id": STR_NULL}),
        msg_record("full_stream", {"id": 1}),
        msg_state({"done": True}),
    ]
    _, res = run(spark, tmp_out, lines)
    assert res["state"] == {"done": True}
    _, rows = rows_of(spark, f"{tmp_out}/full_stream")
    assert [r["id"] for r in rows] == ["1"]
    # the record-less stream must not produce an output directory with rows
    import glob
    import os

    empty_files = glob.glob(os.path.join(tmp_out, "empty_stream", "*.parquet"))
    assert empty_files == []


def test_unknown_message_types_are_skipped(spark, tmp_out):
    """Messages outside {SCHEMA, RECORD, STATE} (e.g. the SDK's
    ACTIVATE_VERSION) must pass through harmlessly: records around them
    land, state still emits.  Reference context: the singer-sdk can emit
    ACTIVATE_VERSION but target-parquet implements no handler — ignoring
    is the compatible behavior."""
    import json

    lines = [
        msg_schema("s", {"id": {"type": ["integer", "null"]}}),
        msg_record("s", {"id": 1}),
        json.dumps({"type": "ACTIVATE_VERSION", "stream": "s", "version": 9}),
        msg_record("s", {"id": 2}),
        msg_state({"done": 1}),
    ]
    _, res = run(spark, tmp_out, lines)
    assert res["state"] == {"done": 1}
    _, rows = rows_of(spark, f"{tmp_out}/s")
    assert sorted(r["id"] for r in rows) == [1, 2]


def test_malformed_json_lines_are_dropped_not_fatal(spark, tmp_out):
    """A garbage line in the Singer feed must not kill the job or the
    surrounding records: from_json yields a null envelope, which the
    dispatch filter drops."""
    lines = [
        msg_schema("s", {"id": {"type": ["integer", "null"]}}),
        msg_record("s", {"id": 1}),
        "{this is not json",
        "",
        msg_record("s", {"id": 2}),
        # a RECORD with no stream belongs to no stream: dropped, and not
        # an orphan (no "arrived before its SCHEMA" failure)
        json.dumps({"type": "RECORD", "stream": None, "record": {"id": 3}}),
        json.dumps({"type": "RECORD", "record": {"id": 4}}),
        msg_state({"ok": 1}),
    ]
    _, res = run(spark, tmp_out, lines)
    assert res["state"] == {"ok": 1}
    _, rows = rows_of(spark, f"{tmp_out}/s")
    assert sorted(r["id"] for r in rows) == [1, 2]


def test_gzip_compressed_singer_input(spark, tmp_out, tmp_path):
    """Singer feeds arrive gzipped in practice; spark.read.text
    decompresses *.jsonl.gz transparently, so the whole ingest path works
    unchanged (note: a single .gz file is not splittable — at scale ship
    many files, which the driver already does per micro-batch)."""
    import gzip

    lines = [
        msg_schema("s", {"id": {"type": ["integer", "null"]}}),
        msg_record("s", {"id": 1}),
        msg_record("s", {"id": 2}),
        msg_state({"ok": 1}),
    ]
    p = tmp_path / "feed.jsonl.gz"
    with gzip.open(p, "wt") as f:
        f.write("\n".join(lines))

    from target_parquet_spark.target import SingerTarget

    tgt = SingerTarget(
        spark, {"filepath": tmp_out, "file_naming_scheme": "{stream}"}
    )
    res = tgt.run_path(str(p))
    assert res["state"] == {"ok": 1}
    _, rows = rows_of(spark, f"{tmp_out}/s")
    assert sorted(r["id"] for r in rows) == [1, 2]


def test_cli_about_lists_settings():
    import json as _json
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-m", "target_parquet_spark", "--about"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    about = _json.loads(out)
    assert about["name"] == "target-parquet-spark"
    for key in ("filepath", "file_naming_scheme", "compression",
                "partition_cols", "strict_validation"):
        assert key in about["settings"]["properties"]
