"""`curation` workload: corpus queries from the query registry.

Each operation builds one query's DataFrame (construct) and executes
it into the JVM `noop` sink (execute). A pass runs the workload's
queries once each, in an order shuffled from the seed. The queries
read lake tables through `archetype_spark/sources` and run the
curation operators, so one workload measures both layers.

Correctness: once per run, outside the timed window, every query's
collected rows are compared with its DuckDB oracle's, using
`tests/oracle_diff.py`'s canonicalisation. The corpus is fixed, so
the oracle rows are computed once per checkout, in the preparation
step that also builds the lake fixtures and ANN indexes, and cached.
"""

from __future__ import annotations

import json
import os
import time

#: Queries that read through `archetype_spark/sources` (Delta, Iceberg,
#: Hudi, delete files, replication) and operator-heavy ones (dedup,
#: similarity/ANN, graph CC, retrieval). See README.md for why these
#: and not the full lists.
SOURCES_IDS = (104, 105, 119, 120, 139, 149)
OPERATORS_IDS = (29, 40, 61, 66, 112)

#: Query ids by workload, and the self-test's two queries per layer.
QUERY_IDS = {"curation": SOURCES_IDS + OPERATORS_IDS}
TINY_IDS = {"curation": (104, 139, 29, 33)}


def query_names(ids) -> list[str]:
    from archetype_spark.queries import all_queries

    by_id = {int(name[1 : name.index("_")]): name for name in all_queries()}
    return [by_id[i] for i in ids]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def ensure_index(spark, data_dir: str) -> None:
    """Build or check the persisted IVF index q61 probes, the one index
    the `curation` queries read."""
    from archetype_spark.operators import ann_index
    from archetype_spark.queries.northstar import IVF_INDEX
    from archetype_spark.tables import load

    ann_index.ensure_ivf(
        load(spark, data_dir, "embeddings"), ann_index.default_index_dir(data_dir, "ivf_embeddings"), **IVF_INDEX
    )


def prepare(spark, data_dir: str, names: list[str], cache_file: str) -> None:
    """Build everything the queries read besides the corpus (lake
    fixtures, the ANN index) and cache each query's canonical oracle
    rows in `cache_file`."""
    from archetype_spark.queries import all_oracles, all_queries
    from tests.oracle_diff import canon_rows, run_oracle

    ensure_index(spark, data_dir)
    registry = all_queries()
    for name in names:  # first run builds the query's fixtures
        noop(registry[name](spark, data_dir))
    oracles = all_oracles(data_dir)
    missing = [n for n in names if n not in oracles]
    if missing:
        raise RuntimeError(f"no DuckDB oracle for {missing} at {data_dir}")
    cache = {}
    for name in names:
        cols, rows = run_oracle(oracles[name], data_dir)
        cache[name] = {"columns": sorted(cols), "rows": [list(r) for r in canon_rows(cols, rows)]}
    tmp = cache_file + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(cache, fh)
    os.replace(tmp, cache_file)


def load_expected(cache_file: str, names: list[str]) -> dict:
    with open(cache_file) as fh:
        cache = json.load(fh)
    return {n: cache[n] for n in names}


def check(df, expected: dict) -> str | None:
    """None when the frame's rows equal the oracle's, else what differs."""
    from tests.oracle_diff import canon_rows

    cols = df.columns
    if sorted(cols) != expected["columns"]:
        return f"columns {sorted(cols)} != oracle {expected['columns']}"
    rows = [list(r) for r in canon_rows(cols, [tuple(r) for r in df.collect()])]
    if len(rows) != len(expected["rows"]):
        return f"{len(rows)} rows != oracle {len(expected['rows'])}"
    if rows != expected["rows"]:
        diffs = [(a, b) for a, b in zip(rows, expected["rows"]) if a != b][:3]
        return f"values differ from the oracle, first diffs {diffs}"
    return None


def check_all(spark, data_dir: str, names: list[str], expected: dict) -> dict:
    """Query name -> problem (None when correct). Also warms every
    query's code paths before the timed passes."""
    from archetype_spark.queries import all_queries

    registry = all_queries()
    problems = {}
    for name in names:
        try:
            problems[name] = check(registry[name](spark, data_dir), expected[name])
        except Exception as exc:  # noqa: BLE001 - a failing query is reported, not fatal
            problems[name] = f"{type(exc).__name__}: {exc}"[:300]
    return problems


def run_pass(spark, data_dir: str, order: list[str], tracer, ops: list) -> float:
    """Run `order` once, appending one record per query to `ops`;
    returns the pass's wall time."""
    from archetype_spark.queries import all_queries

    registry = all_queries()
    t_pass = time.perf_counter()
    for name in order:
        rec = {"kind": "query", "name": name, "ok": True}
        t0 = time.perf_counter()
        t1 = None
        try:
            with tracer.span("op", "query") as span:
                rec["span"] = span
                with tracer.span("phase", "construct"):
                    df = registry[name](spark, data_dir)
                t1 = time.perf_counter()
                with tracer.span("phase", "execute"):
                    noop(df)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        t2 = time.perf_counter()
        rec["seconds"] = t2 - t0
        rec["construct_s"] = (t1 or t2) - t0
        rec["execute_s"] = t2 - (t1 or t2)
        ops.append(rec)
    return time.perf_counter() - t_pass
