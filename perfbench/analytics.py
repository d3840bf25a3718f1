"""`analytics` workload: a mix of registered queries over seeded tables.

Twelve queries from the registry (relational, joins and subqueries,
windows and time, dedup, similarity, text and curation) run one at a
time, each pass in a new seeded order. One warm pass runs in set-up.
Each result is hashed order-insensitively and compared with the hash of
the query's DuckDB oracle (``QueryDef.oracle``); the oracles run after
the measured phase, so they add nothing to set-up time.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import random
import time

from perfbench import tables
from perfbench.harness import Run
from perfbench.layers import QUERY_MIX, layer_metrics

MIN_PASSES = 2



def _norm(v):
    """One value in an engine-neutral form: numbers as float, NULL/NaN/NaT
    as None, timestamps as ISO text, arrays and structs as tuples."""
    if v is None:
        return None
    if isinstance(v, (bool,)):
        return v
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp / NaT
        return None if str(v) == "NaT" else v.to_pydatetime().replace(tzinfo=None).isoformat()
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    return v


def result_hash(pdf) -> tuple[str, int]:
    """Order-insensitive hash of a pandas frame: sorted column names,
    then the sorted reprs of the normalised rows."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(tuple(_norm(v) for v in row)) for row in pdf[cols].itertuples(index=False))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest(), len(rows)


def oracle_hash(sql: str, sf_dir: str) -> str:
    import duckdb

    from transit_feed_etl_spark.io import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return result_hash(con.execute(sql).fetchdf())[0]
    finally:
        con.close()


def run_query(run: Run, name: str, sf_dir: str) -> tuple[str, int]:
    from transit_feed_etl_spark import caching
    from transit_feed_etl_spark.queries import QUERIES

    rec = run.recorder
    with rec.span(f"queries.{name}"):
        with rec.span("queries.build") as attrs:
            df = QUERIES[name].builder(run.spark, sf_dir)
            attrs["tracked"] = len(caching._TRACKED)
        rec.mark_plan_build()
        with rec.span("spark.action"):
            pdf = df.toPandas()
        caching.release_caches()
    return result_hash(pdf)


def run(run: Run) -> dict:
    run.start_spark()
    t0 = time.perf_counter()
    sf_dir = tables.generate(run.seed, run.path("tables"))
    run.setup_parts["tables"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm: dict[str, str] = {}
    with run.recorder.op(-1, run.trace):
        for name in QUERY_MIX:
            try:
                warm[name] = run_query(run, name, sf_dir)[0]
            except Exception:  # noqa: BLE001 - checked against the oracle below
                run.note_failure(f"warm-up {name}")
    run.setup_parts["warm_pass"] = time.perf_counter() - t0
    setup_s = time.perf_counter() - run.t_process

    rng = random.Random(run.seed)
    order: list[str] = []
    hashes: list[str | None] = []

    def next_op(i):
        if i % len(QUERY_MIX) == 0:
            order.extend(rng.sample(QUERY_MIX, len(QUERY_MIX)))
        name = order[i]

        def op():
            hashes.append(None)
            h, rows = run_query(run, name, sf_dir)
            hashes[-1] = h
            return True, rows

        return name, op, None

    # each query is traced in one of every two passes, half of them in the
    # first: every query gets a traced and an untraced sample, and the
    # first pass's warm-up lag falls on both sides of the overhead figure
    n_mix = len(QUERY_MIX)
    wall = run.measure(
        next_op, n_mix, MIN_PASSES,
        traced_op=lambda i: (i // n_mix + QUERY_MIX.index(order[i])) % 2 == 0,
    )

    from transit_feed_etl_spark.queries import QUERIES

    oracles = {}
    for name in QUERY_MIX:
        run.verify(f"warm-up {name}", lambda: warm.get(name) == oracles.setdefault(
            name, oracle_hash(QUERIES[name].oracle, sf_dir)))
    for op, h in zip(run.ops, hashes):
        if op.ok and h != oracles.get(op.kind):
            op.ok = False
            run.wrong += 1
            run.notes.append(f"{op.kind}: result hash differs from the oracle")

    return run.finish(setup_s, wall, sum(o.records for o in run.ops), layer_metrics(run, {}))

