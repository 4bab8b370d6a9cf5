"""The ``analytics`` workload: passes over the twelve non-routing headline
queries of the query registry on generated tables of scale ``SCALE``.

Each query is timed the way a user pays for it: ``QuerySpec.fn`` builds the
DataFrame and ``toPandas()`` fetches the result, under the query's declared
``session_conf``. Every result is compared with the query's DuckDB oracle.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import ref
from harness import Outcome, median

QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_revenue_forecast",
    "q10_returned_items",
    "window_topk_orders",
    "events_hourly",
    "events_sessionize",
    "doc_text_features",
    "dedup_minhash_lsh",
    "dedup_near_dups",
    "sim_topk_cosine",
)
FACT_TABLES = ("lineitem", "orders", "events")
SCALE = 0.1
SETUP_REPS = 3


@dataclass
class Tables:
    data_dir: str
    overrides: dict = field(default_factory=dict)  # query -> session conf
    setup_reps_s: list = field(default_factory=list)


def setup_tables(spark, tracer, seed: int, run_dir: str, reps: int = SETUP_REPS) -> Tables:
    """Generate and write the tables, register them as views and resolve
    the per-query session overrides; repeated ``reps`` times."""
    from duckdb_routing_spark.queries import REGISTRY
    from duckdb_routing_spark.session import register_testdata_views

    times = []
    for rep in range(reps):
        t0 = time.perf_counter()
        data_dir = os.path.join(run_dir, f"tables{rep}")
        with tracer.span("bench.generate_tables"):
            gen.write_analytics_tables(seed, data_dir, SCALE)
        with tracer.span("sources.register_views"):
            register_testdata_views(spark, data_dir)
        overrides = {}
        for name in QUERIES:
            sc = REGISTRY[name].session_conf
            if sc:
                overrides[name] = dict(sc(spark, data_dir) if callable(sc) else sc)
        times.append(time.perf_counter() - t0)
    return Tables(data_dir=data_dir, overrides=overrides, setup_reps_s=times)


def run_query(spark, tracer, tables: Tables, name: str):
    """(fn seconds, total seconds, result pandas frame) for one query."""
    from duckdb_routing_spark.queries import REGISTRY

    spec = REGISTRY[name]
    spark.catalog.clearCache()
    ov = tables.overrides.get(name, {})
    saved = {k: spark.conf.get(k) for k in ov}
    for k, v in ov.items():
        spark.conf.set(k, v)
    try:
        t0 = time.perf_counter()
        with tracer.span(f"queries.{name}"):
            df = spec.fn(spark, tables.data_dir)
        t1 = time.perf_counter()
        with tracer.span("spark.action"):
            pdf = df.toPandas()
        t2 = time.perf_counter()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return t1 - t0, t2 - t0, pdf


@dataclass
class Pass:
    order: list
    seconds: dict = field(default_factory=dict)  # query -> fn + action
    fn_seconds: dict = field(default_factory=dict)
    results: dict = field(default_factory=dict)
    tasks: int = 0


def oracle_results(tables: Tables) -> dict:
    import duckdb

    from duckdb_routing_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        for t in gen.ANALYTICS_TABLES:
            path = os.path.join(tables.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return {name: con.sql(REGISTRY[name].oracle).df() for name in QUERIES}
    finally:
        con.close()


def run_pass(spark, tracer, tables: Tables, order, counter) -> Pass:
    p = Pass(order=list(order))
    gid = counter.start()
    for name in p.order:
        p.fn_seconds[name], p.seconds[name], p.results[name] = run_query(spark, tracer, tables, name)
    p.tasks = counter.count(gid)[1]
    return p


def analytics(spark, tracer, tables: Tables, seed: int, seconds: float,
              counter, warmup: bool = True) -> tuple[Outcome, list[Pass]]:
    """Timed passes for ``seconds`` (at least one). ``warmup`` first runs an
    untimed pass: the session's first execution of every query (JIT, code
    generation, Python worker start) costs about twice a warm pass and
    varies from run to run."""
    out = Outcome()
    rng = np.random.default_rng([seed, 8])
    t_warm = time.perf_counter()
    warm = []
    if warmup:
        with tracer.request("warmup"):
            warm.append(run_pass(spark, tracer, tables, QUERIES, counter))
    passes: list[Pass] = []
    t_loop = time.perf_counter()
    t_end = t_loop + seconds
    while not passes or time.perf_counter() < t_end:
        order = [QUERIES[i] for i in rng.permutation(len(QUERIES))]
        with tracer.request(f"pass-{len(passes)}"):
            passes.append(run_pass(spark, tracer, tables, order, counter))
    t_checks = time.perf_counter()
    oracles = oracle_results(tables)
    for i, p in enumerate(warm + passes):
        for name in QUERIES:
            out.attempted += 1
            err = ref.frames_equal(p.results.pop(name), oracles[name])
            if err:
                out.fail(f"pass {i} {name}: {err}")
    suite = [sum(p.seconds.values()) for p in passes]
    out.metrics = {
        "throughput_per_s": (len(QUERIES) * len(passes) / sum(suite), "1/s"),
        "latency_p50_ms": (median(suite) * 1e3, "ms"),
    }
    out.info = {
        "passes": len(passes),
        "session_overrides": tables.overrides,
        "query_p50_ms": median([s for p in passes for s in p.seconds.values()]) * 1e3,
        "pass_s": [round(sum(p.seconds.values()), 3) for p in warm + passes],
        "query_s": {n: round(passes[0].seconds[n], 3) for n in passes[0].order},
        "phase_s": {"warmup": t_loop - t_warm, "loop": t_checks - t_loop, "checks": time.perf_counter() - t_checks},
    }
    return out, passes


def analytics_layer_metrics(spark, tracer, tables: Tables, passes: list[Pass]) -> dict:
    from duckdb_routing_spark.queries.registry import table

    m = {f"queries.{n}_s": (median([p.seconds[n] for p in passes]), "s") for n in QUERIES}
    m["queries.plan_build_s"] = (median([sum(p.fn_seconds.values()) for p in passes]), "s")
    m["queries.spark_tasks_per_pass"] = (median([p.tasks for p in passes]), "count")
    scan = 0.0
    for t in FACT_TABLES:
        reps = []
        for _ in range(3):
            with tracer.span("sources.scan"):
                t0 = time.perf_counter()
                table(spark, tables.data_dir, t).count()
                reps.append(time.perf_counter() - t0)
        scan += median(reps)
    m["sources.scan_s"] = (scan, "s")
    return m
