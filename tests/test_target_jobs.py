"""Job budget of the Singer targets.

A run's Spark jobs are a fixed plan: one control collect, one census
aggregate (two jobs under AQE) and one write per non-empty stream-version
(batch) or per stream with RECORDs in the micro-batch (streaming).  Per-
version check jobs — emptiness probes, key-null aggregates, orphan and
STATE lookups — would each add a job per version; these tests fail if any
comes back.
"""

import json
import uuid

from target_parquet_spark.streaming.singer_stream import SingerStreamTarget
from tests.test_target_integration import (
    STR_NULL,
    msg_record,
    msg_schema,
    msg_state,
    run,
)

INT_NULL = {"type": ["integer", "null"]}


def _lines():
    """Two streams; ``a`` re-declares its SCHEMA mid-stream (3 non-empty
    stream-versions), with STATE lines between."""
    lines = [
        msg_schema("a", {"id": INT_NULL, "x": STR_NULL}, key_properties=["id"]),
        msg_schema("b", {"id": INT_NULL, "v": {"type": ["number", "null"]}}),
    ]
    lines += [msg_record("a", {"id": i, "x": f"x{i}"}) for i in range(20)]
    lines += [msg_record("b", {"id": i, "v": i / 2}) for i in range(20)]
    lines.append(msg_state({"bookmark": 1}))
    lines.append(
        msg_schema("a", {"id": INT_NULL, "x": STR_NULL, "y": STR_NULL},
                   key_properties=["id"])
    )
    lines += [msg_record("a", {"id": i, "x": "x", "y": "y"}) for i in range(20, 30)]
    lines.append(msg_state({"bookmark": 2}))
    return lines


def _jobs(spark, group):
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_batch_run_is_census_plus_one_write_per_version(spark, tmp_out):
    sc = spark.sparkContext
    group = f"target-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "batch target job budget")
    try:
        _, res = run(spark, tmp_out, _lines())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert res["metrics"]["recordCount"] == {"a": 30, "b": 20}
    assert res["state"] == {"bookmark": 2}
    non_empty_versions = 3
    jobs = _jobs(spark, group)
    assert jobs <= 3 + non_empty_versions, jobs


def test_stream_batch_is_census_plus_one_write_per_stream(spark, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    out = tmp_path / "out"
    (inbox / "f1.jsonl").write_text("\n".join(_lines()))
    tgt = SingerStreamTarget(spark, {"filepath": str(out)})
    query = tgt.start(str(inbox), available_now=True)
    query.awaitTermination(120)
    assert not query.isActive
    assert query.exception() is None
    assert len(query.recentProgress) == 1  # one micro-batch
    metrics = json.loads((out / "job_metrics.json").read_text())
    assert metrics["recordCount"] == {"a": 30, "b": 20}
    assert json.loads((out / "state.json").read_text())["state"] == {"bookmark": 2}
    streams_in_batch = 2
    jobs = _jobs(spark, str(query.runId))
    assert jobs <= 3 + streams_in_batch, jobs
