"""Read-side workload: registered queries from ``__spark_entry__.queries()``
on the generated tables, each executed in full through the noop sink.

One operation is one query: *construct* is the call of the query function
(driver-side Python plus any eager jobs it launches), *execute* the noop
write of the returned frame.  Results are checked against each query's
DuckDB oracle with the comparator of ``scripts/check_oracle.py``, outside
the timed region.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

# Three groups: light scan/join/window queries where table loading
# dominates; a construct-heavy driver loop; a shuffle-heavy pair search.
QUERIES = [
    "q1_pricing_summary",
    "q5_local_supplier",
    "window_topk_per_group",
    "events_sessionize",
    "text_token_stats",
    "dedup_connected_components",
    "dedup_minhash_lsh_pairs",
]
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _comparator():
    path = os.path.join("scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def check_results(spark, tables_dir: str) -> dict[str, list[str]]:
    """Run each query once, collect it, and compare it with its oracle.
    Returns {query: problems}; an empty list means the result matched."""
    import __spark_entry__ as entry

    compare = _comparator()
    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(tables_dir, t + '.parquet')}')"
            )
        out = {}
        for name in QUERIES:
            df = queries[name](spark, tables_dir)
            rows = [tuple(r) for r in df.collect()]
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            out[name] = compare(name, rows, res.fetchall(), df.columns, duck_cols)
    finally:
        con.close()
    return out


def run_query(spark, tracer, name: str, tables_dir: str, op: str) -> dict:
    """One timed operation; the plan phase is split out only when traced."""
    import __spark_entry__ as entry

    fn = entry.queries()[name]
    with tracer.span(f"query.{name}", op) as whole:
        with tracer.span(f"query.{name}.construct", op) as c:
            df = fn(spark, tables_dir)
        plan_s = 0.0
        if tracer.enabled:
            with tracer.span(f"query.{name}.plan", op) as p:
                df._jdf.queryExecution().executedPlan()
            plan_s = p.wall
        with tracer.span(f"query.{name}.execute", op) as e:
            df.write.format("noop").mode("overwrite").save()
    return {"wall": whole.wall, "construct": c.wall, "plan": plan_s,
            "execute": e.wall, "spans": (c, e)}

