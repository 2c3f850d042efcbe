"""Seeded input generator for the benchmark.

Everything the program sees is made here from ``--seed``: the query tables
(TPC-H-style star schema plus ``events``, ``documents`` and ``embeddings``,
written as Parquet) and the Singer message files the ingest workloads feed
to the target.  The seed chooses row values and order, how streams
interleave, where the mid-stream schema change sits, and which records are
invalid and how.  Nothing is read from outside the working directory.

Self-check (same seed -> identical bytes, other seed -> different bytes)::

    python3 perfbench/gen.py --self-check
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
COLORS = ["red", "blue", "green", "small", "large", "steel", "brass"]
NOUNS = ["ring", "widget", "bolt", "gear", "valve", "panel"]
PART_TYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "the a of and to in is it key agg row scan slow fast table value part "
    "hash merge batch spark line sort window data column join small big "
    "customer query order group filter stream vector"
).split()

# Singer JSON-schema property per Arrow type; date-times travel as strings.
_JSON_TYPE = {
    pa.int32(): "integer",
    pa.int64(): "integer",
    pa.float64(): "number",
    pa.string(): "string",
}


def _days(rng, n, start, end):
    lo = (dt.datetime.fromisoformat(start) - EPOCH).days
    hi = (dt.datetime.fromisoformat(end) - EPOCH).days
    return rng.integers(lo, hi, n).astype("int64") * 86_400_000_000


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The ten query tables, sized like ``scale`` × sf0.01."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_ord = max(100, int(15000 * scale))
    n_ev = max(100, int(10000 * scale))
    n_doc = max(50, int(500 * scale))
    n_emb = max(50, int(500 * scale))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999, 9999),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999, 9999),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{c} {w}"
                for c, w in zip(
                    rng.choice(COLORS, n_part), rng.choice(NOUNS, n_part)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": _money(rng, n_part, 900, 2100),
        }
    )
    odate = _days(rng, n_ord, "1995-01-01", "2001-08-01")
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, n_ord, 900, 500_000),
            "o_orderdate": _ts(odate),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    n_li = len(okey)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(
                np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()
            ),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, n_li, 900, 100_000),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": _ts(
                np.repeat(odate, lines)
                + rng.integers(1, 122, n_li) * 86_400_000_000
            ),
        }
    )
    # millisecond timestamps: the target stores date-times at ms precision
    gaps = rng.exponential(260_000, n_ev).astype("int64") * 1000
    ev_ts = (dt.datetime(2024, 1, 1) - EPOCH).days * 86_400_000_000 + np.cumsum(gaps)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, 150, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.exponential(10, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(rng.choice(WORDS, int(k)))
        for k in rng.integers(20, 80, n_doc)
    ]
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=[0.5, 0.15, 0.15, 0.1, 0.1]).tolist(),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype="int64"),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 1.0, (n_emb, 64))).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Singer messages
# ---------------------------------------------------------------------------


def singer_schema(tab: pa.Table) -> dict:
    """Type-only JSON schema of a table (no validation keywords)."""
    props = {}
    for f in tab.schema:
        if pa.types.is_timestamp(f.type):
            props[f.name] = {"type": ["string", "null"], "format": "date-time"}
        else:
            props[f.name] = {"type": [_JSON_TYPE[f.type], "null"]}
    return {"type": "object", "properties": props}


def events_schema(user_id_type: str) -> dict:
    """The keyword-carrying ``events`` schema; ``user_id_type`` is widened
    from integer to number by the mid-stream SCHEMA."""
    return {
        "type": "object",
        "properties": {
            "event_id": {"type": ["integer", "null"]},
            "ts": {"type": ["string", "null"], "format": "date-time"},
            "user_id": {"type": [user_id_type, "null"]},
            "event_type": {"type": "string", "enum": EVENT_TYPES},
            "value": {"type": ["number", "null"], "minimum": 0},
            "props": {"type": ["string", "null"]},
        },
        "required": ["event_id", "ts", "event_type"],
    }


def _json_value(v):
    if isinstance(v, dt.datetime):
        return v.isoformat(timespec="milliseconds") + "Z"
    return v


def records(tab: pa.Table) -> list[dict]:
    return [
        {k: _json_value(v) for k, v in row.items()} for row in tab.to_pylist()
    ]


def msg_schema(stream: str, schema: dict, key: str) -> str:
    return json.dumps(
        {"type": "SCHEMA", "stream": stream, "schema": schema, "key_properties": [key]}
    )


def msg_record(stream: str, rec: dict) -> str:
    return json.dumps({"type": "RECORD", "stream": stream, "record": rec})


def msg_state(value: dict) -> str:
    return json.dumps({"type": "STATE", "value": value})


KEYS = {
    "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_orderkey", "events": "event_id", "documents": "doc_id",
}


def _write_lines(path: str, lines: list[str]) -> int:
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def _permuted(rng, tab: pa.Table) -> pa.Table:
    return tab.take(pa.array(rng.permutation(tab.num_rows)))


def make_bulk(seed: int, out_dir: str, scale: float) -> dict:
    """lineitem + orders, row order and interleaving chosen by the seed,
    one type-only SCHEMA per stream, every record valid.  The expected
    tables are written next to the message file as Parquet."""
    rng = np.random.default_rng([seed, 2])
    src = make_tables(seed, scale)
    streams = {s: _permuted(rng, src[s]) for s in ("lineitem", "orders")}
    lines = [msg_schema(s, singer_schema(t), KEYS[s]) for s, t in streams.items()]
    recs = {s: records(t) for s, t in streams.items()}
    order = np.repeat(np.arange(len(recs)), [len(r) for r in recs.values()])
    rng.shuffle(order)
    names = list(recs)
    pos = dict.fromkeys(names, 0)
    for k in order:
        s = names[k]
        lines.append(msg_record(s, recs[s][pos[s]]))
        pos[s] += 1
    state = {"bookmarks": {s: {"rows": len(r)} for s, r in recs.items()}}
    lines.append(msg_state(state))
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "bulk.jsonl")
    nbytes = _write_lines(path, lines)
    write_tables(streams, os.path.join(out_dir, "expected"))
    return {
        "path": path,
        "bytes": nbytes,
        "records": {s: len(r) for s, r in recs.items()},
        "state": state,
        "schemas": {s: singer_schema(t) for s, t in streams.items()},
    }


def _invalidate(rng, rec: dict) -> dict:
    """Break one record in a seeded way the compiled validator rejects:
    enum miss, minimum miss, or a missing required property."""
    rec = dict(rec)
    how = rng.integers(0, 3)
    if how == 0:
        rec["event_type"] = "bogus"
    elif how == 1:
        rec["value"] = -1.5
    else:
        del rec["event_type"]
    return rec


def make_incremental(
    seed: int, out_dir: str, cap: int, streams: list[str], invalid_share: float
) -> dict:
    """A small sync: ``streams`` in seeded order, each capped at ``cap``
    rows.  ``events`` carries validation keywords, one mid-stream SCHEMA at
    a seeded position that widens ``user_id`` integer -> number, and a
    seeded share of invalid RECORDs (routed to quarantine by the target)."""
    rng = np.random.default_rng([seed, 3])
    src = make_tables(seed, 1.0)
    lines: list[str] = []
    expected: dict[str, pa.Table] = {}
    counts: dict[str, int] = {}
    n_invalid = 0
    state = None
    for s in [streams[i] for i in rng.permutation(len(streams))]:
        tab = _permuted(rng, src[s]).slice(0, cap)
        recs = records(tab)
        if s != "events":
            lines.append(msg_schema(s, singer_schema(tab), KEYS[s]))
            lines += [msg_record(s, r) for r in recs]
            expected[s] = tab
            counts[s] = len(recs)
        else:
            lines.append(msg_schema(s, events_schema("integer"), KEYS[s]))
            change = int(rng.integers(len(recs) // 4, 3 * len(recs) // 4))
            bad = set(
                rng.choice(len(recs), int(len(recs) * invalid_share), replace=False).tolist()
            )
            user_ids = tab.column("user_id").to_numpy().astype("float64")
            valid = []
            for i, r in enumerate(recs):
                if i == change:
                    lines.append(msg_schema(s, events_schema("number"), KEYS[s]))
                if i >= change:
                    user_ids[i] += 0.5 * (r["event_id"] % 2)
                    r = dict(r, user_id=float(user_ids[i]))
                if i in bad:
                    lines.append(msg_record(s, _invalidate(rng, r)))
                else:
                    lines.append(msg_record(s, r))
                    valid.append(i)
            tab = tab.set_column(
                tab.schema.get_field_index("user_id"), "user_id", pa.array(user_ids)
            )
            expected[s] = tab.take(pa.array(valid, pa.int64()))
            counts[s] = len(valid)
            n_invalid = len(bad)
        state = {"bookmarks": {s: {KEYS[s]: recs[-1][KEYS[s]]}}, "after": s}
        lines.append(msg_state(state))
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "sync.jsonl")
    nbytes = _write_lines(path, lines)
    write_tables(expected, os.path.join(out_dir, "expected"))
    return {
        "path": path,
        "bytes": nbytes,
        "records": counts,
        "invalid": n_invalid,
        "state": state,
    }


def make_trickle(seed: int, out_dir: str, n_files: int, per_file: int) -> dict:
    """Message files for the streaming target: SCHEMAs only in file 0, then
    ``per_file`` RECORDs of orders and events per file, seeded mix."""
    rng = np.random.default_rng([seed, 4])
    src = make_tables(seed, 1.0)
    pools = {
        "orders": records(_permuted(rng, src["orders"])),
        "events": records(_permuted(rng, src["events"])),
    }
    schemas = {"orders": singer_schema(src["orders"]), "events": events_schema("integer")}
    os.makedirs(out_dir, exist_ok=True)
    files, counts, nbytes = [], [], 0
    pos = dict.fromkeys(pools, 0)
    for f in range(n_files):
        lines = (
            [msg_schema(s, schemas[s], KEYS[s]) for s in pools] if f == 0 else []
        )
        cnt = dict.fromkeys(pools, 0)
        for k in rng.integers(0, 2, per_file):
            s = list(pools)[k]
            pool = pools[s]
            rec = pool[pos[s] % len(pool)]
            if pos[s] >= len(pool):  # reuse with fresh keys past the pool
                rec = dict(rec, **{KEYS[s]: rec[KEYS[s]] + len(pool) * (pos[s] // len(pool))})
            lines.append(msg_record(s, rec))
            pos[s] += 1
            cnt[s] += 1
        lines.append(msg_state({"file": f}))
        path = os.path.join(out_dir, f"part-{f:05d}.jsonl")
        nbytes += _write_lines(path, lines)
        files.append(path)
        counts.append(cnt)
    return {"files": files, "records": counts, "bytes": nbytes}


# ---------------------------------------------------------------------------
# self-check
# ---------------------------------------------------------------------------


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate_all(seed: int, root: str) -> str:
    shutil.rmtree(root, ignore_errors=True)
    write_tables(make_tables(seed, 0.2), os.path.join(root, "tables"))
    make_bulk(seed, os.path.join(root, "bulk"), 0.05)
    make_incremental(
        seed, os.path.join(root, "sync"), 200, list(KEYS), 0.02
    )
    make_trickle(seed, os.path.join(root, "trickle"), 3, 100)
    return _digest(root)


def self_check(work: str) -> bool:
    a = _generate_all(1, os.path.join(work, "a"))
    b = _generate_all(1, os.path.join(work, "b"))
    c = _generate_all(2, os.path.join(work, "c"))
    print(f"seed 1: {a[:16]} / {b[:16]}   seed 2: {c[:16]}")
    return a == b and a != c


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--self-check", action="store_true", required=True)
    ap.parse_args()
    os.makedirs(".perfbench_work", exist_ok=True)
    work = tempfile.mkdtemp(prefix="gen-check-", dir=".perfbench_work")
    try:
        ok = self_check(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("self-check", "ok" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
