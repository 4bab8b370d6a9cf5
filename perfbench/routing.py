"""The two routing workloads and the road-network set-up they share.

``route_batch``: bulk jobs, each one aggregate over ``travel_time(...)`` on
a fresh trip table read from parquet.
``route_interactive``: a closed loop with one client; every request is one
Spark action on fresh inputs.
"""

from __future__ import annotations

import os
import pickle
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen
import ref
from harness import CPUS, Outcome, cpu_s_by_kind, median, percentile

ROWS = COLS = 120
SETUP_REPS = 3
JOB_ROWS = 600
SAMPLE_ROWS_PER_JOB = 6
WARMUP_JOB = 1_000_000  # job index of the untimed warm-up job
SNAP_PROBE_POINTS = 20_000
MODES = gen.MODES

WAYS_DDL = "way_id long, nodes array<long>, highway string, oneway string"
NODES_DDL = "node_id long, lon double, lat double"

JOB_SQL = """
SELECT count(*) AS n,
       count(tt) AS n_routed,
       sum(tt) AS total_s,
       collect_list(CASE WHEN sample THEN named_struct('row_id', row_id, 'tt', tt) END) AS sampled
FROM (SELECT row_id, sample, travel_time(lat1, lon1, lat2, lon2, costing) AS tt FROM trips)
"""


@dataclass
class Network:
    """The served road network: generated inputs, the loaded engine, and
    driver-side copies of the built graphs for the reference checks."""

    net: gen.RoadNetwork
    engine: object
    tiles: str
    graphs: dict = field(default_factory=dict)
    setup_reps_s: list = field(default_factory=list)


def setup_network(spark, tracer, seed: int, run_dir: str, reps: int = SETUP_REPS) -> Network:
    """Generate the network, build it with ``osm_build.build_tiles`` for all
    modes, and serve it with ``RoutingEngine.load_config`` + ``register``.
    Repeated ``reps`` times on fresh output directories; each repetition's
    wall time is kept, and the last engine serves the workload."""
    from duckdb_routing_spark.routing import osm_build
    from duckdb_routing_spark.routing.engine import RoutingEngine

    served = None
    times = []
    for rep in range(reps):
        if served is not None:
            for m in MODES:
                served.engine.free(m)
        t0 = time.perf_counter()
        with tracer.span("bench.generate_network"):
            net = gen.road_network(seed, ROWS, COLS)
        with tracer.span("bench.create_dataframes"):
            ways = spark.createDataFrame(net.ways, WAYS_DDL)
            nodes = spark.createDataFrame(net.osm_nodes, NODES_DDL)
        tiles = os.path.join(run_dir, f"tiles{rep}")
        with tracer.span("routing.osm_build.build_tiles"):
            osm_build.build_tiles(spark, ways, nodes, tiles)
        eng = RoutingEngine(spark)
        with tracer.span("routing.engine.load_config"):
            if not eng.load_config(tiles):
                raise RuntimeError(f"load_config({tiles}) loaded nothing")
        with tracer.span("routing.engine.register"):
            eng.register()
        times.append(time.perf_counter() - t0)
        served = Network(net=net, engine=eng, tiles=tiles)
    served.setup_reps_s = times
    from duckdb_routing_spark.routing.graph import RoutingGraph

    for m in MODES:
        with tracer.span("routing.graph.load"):
            served.graphs[m] = RoutingGraph.load(served.tiles, m)
    return served


def check_build(nw: Network, out: Outcome) -> None:
    """Node and edge counts of every mode graph against a count made
    directly from the generated ways."""
    from duckdb_routing_spark.routing.speeds import SPEED_KMH

    segs = []
    for w in nw.net.ways.itertuples(index=False):
        for a, b in zip(w.nodes[:-1], w.nodes[1:]):
            segs.append((a, b, w.highway, w.oneway == "yes"))
    seg = pd.DataFrame(segs, columns=["a", "b", "highway", "oneway"])
    for m in MODES:
        s = seg[seg["highway"].isin(list(SPEED_KMH[m]))]
        want_nodes = len(np.unique(np.concatenate([s["a"].to_numpy(), s["b"].to_numpy()])))
        want_edges = len(s) + int((~s["oneway"]).sum())
        g = nw.graphs[m]
        out.attempted += 1
        if (g.num_nodes, g.num_edges) != (want_nodes, want_edges):
            out.fail(f"build {m}: {g.num_nodes} nodes/{g.num_edges} edges, want {want_nodes}/{want_edges}")


def network_layer_metrics(spark, tracer, nw: Network, seed: int) -> dict:
    """routing.osm_build / routing.graph / routing.engine set-up metrics."""
    payload = sum(
        len(pickle.dumps(g.to_payload(), protocol=pickle.HIGHEST_PROTOCOL)) for g in nw.graphs.values()
    )
    rng = np.random.default_rng([seed, 9])
    min_lon, min_lat, max_lon, max_lat = nw.net.mainland_bbox
    lons = rng.uniform(min_lon, max_lon, SNAP_PROBE_POINTS)
    lats = rng.uniform(min_lat, max_lat, SNAP_PROBE_POINTS)
    g = nw.graphs["auto"]
    snap_s = []
    for _ in range(3):
        with tracer.span("routing.graph.nearest_main_nodes"):
            t0 = time.perf_counter()
            g.nearest_main_nodes(lons, lats)
            snap_s.append(time.perf_counter() - t0)
    load = tracer.durations("routing.graph.load")
    return {
        "routing.osm_build.build_tiles_s": (median(tracer.durations("routing.osm_build.build_tiles")), "s"),
        "routing.graph.load_s": (sum(load[-len(MODES):]), "s"),
        "routing.graph.payload_mb": (payload / 1e6, "MB"),
        "routing.graph.snap_us_per_point": (median(snap_s) / SNAP_PROBE_POINTS * 1e6, "us"),
        "routing.engine.load_config_s": (median(tracer.durations("routing.engine.load_config")), "s"),
    }


class JobCounter:
    """Spark jobs and tasks run under one job group (traced runs only)."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._n = 0

    def start(self) -> str | None:
        if not self.enabled:
            return None
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def count(self, gid: str | None) -> tuple[int, int]:
        if gid is None:
            return 0, 0
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return len(jobs), tasks


# ---------------------------------------------------------------------------
# route_batch
# ---------------------------------------------------------------------------


@dataclass
class Job:
    index: int
    trips: gen.TripJob
    path: str
    sample_ids: np.ndarray
    latency_s: float = 0.0
    result: dict | None = None


def prepare_job(nw: Network, seed: int, index: int, run_dir: str) -> Job:
    """Generate one trip table and write it as one parquet file per core, so
    the scan has a task per core."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    trips = gen.trip_job(nw.net, seed, index, JOB_ROWS)
    rng = np.random.default_rng([seed, 7, index])
    sample_ids = np.sort(rng.choice(len(trips), SAMPLE_ROWS_PER_JOB, replace=False))
    pdf = trips.to_pandas()
    pdf["sample"] = np.isin(pdf["row_id"].to_numpy(), sample_ids)
    path = os.path.join(run_dir, "jobs", str(index))
    os.makedirs(path, exist_ok=True)
    for part, chunk in enumerate(np.array_split(np.arange(len(pdf)), CPUS)):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False),
            os.path.join(path, f"part-{part:03d}.parquet"),
        )
    return Job(index=index, trips=trips, path=path, sample_ids=sample_ids)


def run_job(spark, tracer, job: Job) -> None:
    t0 = time.perf_counter()
    with tracer.span("routing.engine.travel_time"):
        spark.read.parquet(job.path).createOrReplaceTempView("trips")
        df = spark.sql(JOB_SQL)
    with tracer.span("spark.action"):
        row = df.collect()[0]
    job.latency_s = time.perf_counter() - t0
    job.result = {
        "n": row["n"],
        "n_routed": row["n_routed"],
        "sampled": {int(r["row_id"]): r["tt"] for r in row["sampled"]},
    }


def check_job(nw: Network, job: Job, out: Outcome) -> None:
    t = job.trips
    res = job.result
    out.attempted += 1
    n_null = res["n"] - res["n_routed"]
    if res["n"] != len(t) or n_null != int(t.expected_null.sum()):
        out.fail(f"job {job.index}: {res['n']} rows/{n_null} NULL, want {len(t)}/{int(t.expected_null.sum())}")
    for i in job.sample_ids:
        i = int(i)
        out.attempted += 1
        want = ref.travel_time_s(nw.graphs[t.costing[i]], t.lat1[i], t.lon1[i], t.lat2[i], t.lon2[i])
        got = res["sampled"].get(i)
        if not ref.same(got, want):
            out.fail(f"job {job.index} row {i}: travel_time {got!r}, reference {want!r}")


def replay_job_kernels(spark, tracer, nw: Network, job: Job) -> dict:
    """Replay a job's rows through ``kernels.batch_travel_time_s`` on the
    driver, in the job's own partitions and Arrow batch sizes, grouped by
    costing the way the UDF groups them. Returns kernel busy time, SSSP
    origins and routable rows served."""
    from pyspark.sql import functions as F

    from duckdb_routing_spark.routing import kernels

    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    layout = (
        spark.read.parquet(job.path)
        .select(F.spark_partition_id().alias("p"), F.monotonically_increasing_id().alias("o"), "row_id")
        .toPandas()
        .sort_values(["p", "o"])
    )
    t = job.trips
    busy, origins, useful = 0.0, 0, 0
    for _, part in layout.groupby("p", sort=True):
        ids = part["row_id"].to_numpy()
        for b0 in range(0, len(ids), batch):
            rows = ids[b0 : b0 + batch]
            costing = pd.Series(t.costing[rows]).fillna("auto")
            for mode in costing.unique():
                m = rows[(costing == mode).to_numpy()]
                g = nw.graphs[mode]
                lat1, lon1, lat2, lon2 = t.lat1[m], t.lon1[m], t.lat2[m], t.lon2[m]
                with tracer.span("routing.kernels.batch_travel_time_s"):
                    t0 = time.perf_counter()
                    kernels.batch_travel_time_s(g, lat1, lon1, lat2, lon2)
                    busy += time.perf_counter() - t0
                valid = ~(np.isnan(lat1) | np.isnan(lon1) | np.isnan(lat2) | np.isnan(lon2))
                src = g.nearest_main_nodes(lon1[valid], lat1[valid])
                dst = g.nearest_main_nodes(lon2[valid], lat2[valid])
                ok = (src >= 0) & (dst >= 0)
                origins += len(np.unique(src[ok]))
                useful += int(ok.sum())
    return {"busy_s": busy, "sssp_origins": origins, "useful_rows": useful}


def route_batch(spark, tracer, nw: Network, seed: int, seconds: float,
                run_dir: str) -> tuple[Outcome, list[Job]]:
    out = Outcome()
    t_warm = time.perf_counter()
    run_job(spark, tracer, prepare_job(nw, seed, WARMUP_JOB, run_dir))
    jobs: list[Job] = []
    t_loop = time.perf_counter()
    t_end = t_loop + seconds
    while not jobs or time.perf_counter() < t_end:
        job = prepare_job(nw, seed, len(jobs), run_dir)
        with tracer.request(f"job-{job.index}"):
            run_job(spark, tracer, job)
        jobs.append(job)
    t_checks = time.perf_counter()
    for job in jobs:
        check_job(nw, job, out)
    lat = [j.latency_s for j in jobs]
    # medians over the whole run, so a burst of contention from other
    # tenants of the host that slows a few jobs does not move the figures
    out.metrics = {
        "throughput_per_s": (JOB_ROWS / median(lat), "1/s"),
        "latency_p50_ms": (median(lat) * 1e3, "ms"),
    }
    out.info = {"jobs": len(jobs), "rows_per_job": JOB_ROWS,
                "mean_pairs_per_s": sum(len(j.trips) for j in jobs) / sum(lat),
                "job_s": [round(x, 3) for x in lat],
                "phase_s": {"warmup": t_loop - t_warm, "loop": t_checks - t_loop,
                            "checks": time.perf_counter() - t_checks}}
    return out, jobs


def batch_layer_metrics(spark, tracer, nw: Network, jobs: list[Job]) -> dict:
    """routing.kernels metrics from a replay of the first timed job."""
    r = replay_job_kernels(spark, tracer, nw, jobs[0])
    return {
        "routing.kernels.batch_busy_s": (r["busy_s"], "s"),
        "routing.kernels.sssp_origins": (r["sssp_origins"], "count"),
        "routing.kernels.pairs_per_origin": (r["useful_rows"] / max(r["sssp_origins"], 1), "ratio"),
    }


# ---------------------------------------------------------------------------
# route_interactive
# ---------------------------------------------------------------------------

OPS = ("travel_time", "route_wkb", "snap", "matrix", "isochrone")
WARMUP_BLOCKS = 2


@dataclass
class Request:
    spec: dict
    latency_s: float = 0.0
    response: object = None
    jobs: int = 0
    tasks: int = 0
    cpu_s: dict = field(default_factory=dict)  # traced runs: JVM / Python worker CPU


def _sql_point(lon: float, lat: float) -> str:
    return f"POINT({lon!r} {lat!r})"


def do_request(spark, tracer, nw: Network, spec: dict):
    """Send one request the way a client would; returns plain values."""
    op, c = spec["op"], spec["costing"]
    lat, lon = spec["lat"], spec["lon"]
    eng = nw.engine
    with tracer.span(f"routing.engine.{op}"):
        if op == "travel_time":
            df = spark.sql(f"SELECT travel_time({lat[0]!r}, {lon[0]!r}, {lat[1]!r}, {lon[1]!r}, '{c}') AS s")
        elif op == "route_wkb":
            df = spark.sql(
                f"SELECT travel_time_route_wkb('{_sql_point(lon[0], lat[0])}', "
                f"'{_sql_point(lon[1], lat[1])}', '{c}') AS r"
            )
        elif op == "snap":
            df = spark.sql(f"SELECT travel_time_snap({lat[0]!r}, {lon[0]!r}, '{c}') AS r")
        elif op == "matrix":
            k = gen.MATRIX_DIM
            df = eng.matrix(lat[:k], lon[:k], lat[k:], lon[k:], c)
        else:
            df = eng.isochrone(lat[0], lon[0], gen.ISOCHRONE_SECONDS, c)
    with tracer.span("spark.action"):
        rows = df.collect()
    if op == "travel_time":
        return rows[0]["s"]
    if op in ("route_wkb", "snap"):
        r = rows[0]["r"]
        return None if r is None else r.asDict()
    if op == "matrix":
        return sorted((r["from_idx"], r["to_idx"], r["distance_m"], r["duration_s"]) for r in rows)
    return sorted((r["lat"], r["lon"], r["seconds"]) for r in rows)


def check_request(nw: Network, req: Request) -> str | None:
    """None when the response matches the driver-side reference."""
    s, got = req.spec, req.response
    g = nw.graphs[s["costing"]]
    lat, lon = s["lat"], s["lon"]
    op = s["op"]
    if op == "travel_time":
        want = ref.travel_time_s(g, lat[0], lon[0], lat[1], lon[1])
        return None if ref.same(got, want) else f"travel_time {got!r} != {want!r}"
    if op == "snap":
        n = ref.snap(g, lon[0], lat[0])
        want = (float(g.node_lat[n]), float(g.node_lon[n]))
        if got is None or (got["lat"], got["lon"]) != want:
            return f"snap {got!r} != node {n} at {want}"
        d = ref.haversine_m(lon[0], lat[0], want[1], want[0])
        return None if ref.same(got["distance_m"], d, rel=1e-9) else f"snap distance {got['distance_m']} != {d}"
    if op == "route_wkb":
        a, b = ref.snap(g, lon[0], lat[0]), ref.snap(g, lon[1], lat[1])
        w = ref.dijkstra(g, a, targets=[b]).get(b)
        if w is None:
            return None if got is None or got["duration_minutes"] is None else f"route {got!r}, want no path"
        if got is None or got["duration_minutes"] != (w / 1000.0) / 60.0:
            return f"route duration {None if got is None else got['duration_minutes']!r} != {(w / 1000.0) / 60.0!r}"
        pts = ref.linestring_points(got["geometry"])
        ends = [(float(g.node_lon[a]), float(g.node_lat[a])), (float(g.node_lon[b]), float(g.node_lat[b]))]
        if [pts[0], pts[-1]] != ends:
            return f"route geometry ends {pts[0]}..{pts[-1]} != {ends}"
        km = sum(ref.haversine_m(*p, *q) for p, q in zip(pts[:-1], pts[1:])) / 1000.0
        return None if ref.same(got["distance_km"], km, rel=1e-9) else f"route distance {got['distance_km']} != {km}"
    if op == "matrix":
        k = gen.MATRIX_DIM
        tgt = [ref.snap(g, lon[k + j], lat[k + j]) for j in range(k)]
        want = []
        for i in range(k):
            dist = ref.dijkstra(g, ref.snap(g, lon[i], lat[i]), targets=tgt)
            want += [(i, j, None if tgt[j] not in dist else dist[tgt[j]] / 1000.0) for j in range(k)]
        have = [(r[0], r[1], r[3]) for r in got]
        return None if have == sorted(want, key=lambda x: (x[0], x[1])) else f"matrix {have} != {want}"
    src = ref.snap(g, lon[0], lat[0])
    reach = ref.dijkstra(g, src, max_ms=int(gen.ISOCHRONE_SECONDS * 1000.0))
    want = sorted((float(g.node_lat[n]), float(g.node_lon[n]), c / 1000.0) for n, c in reach.items())
    return None if got == want else f"isochrone: {len(got)} points != {len(want)} reference points"


def kernel_replay_s(nw: Network, spec: dict) -> tuple[float, float | None]:
    """Driver-side time of the kernel work one request does (and of its
    ``kernels.p2p_path`` call, for route requests)."""
    from duckdb_routing_spark.routing import kernels
    from duckdb_routing_spark.routing.geometry import build_wkb_linestring

    g = nw.graphs[spec["costing"]]
    lat, lon = np.asarray(spec["lat"]), np.asarray(spec["lon"])
    op = spec["op"]
    p2p = None
    t0 = time.perf_counter()
    if op == "travel_time":
        kernels.batch_travel_time_s(g, lat[:1], lon[:1], lat[1:2], lon[1:2])
    elif op == "snap":
        g.nearest_main_nodes(lon[:1], lat[:1])
    elif op == "route_wkb":
        a, b = g.nearest_main_nodes(lon[:2], lat[:2])
        t1 = time.perf_counter()
        w, path = kernels.p2p_path(g, int(a), int(b))
        p2p = time.perf_counter() - t1
        if path is not None:
            kernels.path_distance_m(g, path)
            nodes = np.asarray(path, dtype=np.int64)
            build_wkb_linestring(g.node_lon[nodes], g.node_lat[nodes])
    elif op == "matrix":
        k = gen.MATRIX_DIM
        tgt = g.nearest_main_nodes(lon[k:], lat[k:])
        for s in g.nearest_main_nodes(lon[:k], lat[:k]):
            w, pred = kernels.sssp_multi_target(g, int(s), tgt)
            for j, t in enumerate(tgt):
                if w[j] >= 0:
                    kernels.path_distance_m(g, kernels.path_from_pred(pred, int(s), int(t)))
    else:
        s = g.nearest_main_nodes(lon[:1], lat[:1])[0]
        kernels.dijkstra_isochrone(g, int(s), int(gen.ISOCHRONE_SECONDS * 1000.0))
    return time.perf_counter() - t0, p2p


def route_interactive(spark, tracer, nw: Network, seed: int,
                      seconds: float) -> tuple[Outcome, list[Request]]:
    out = Outcome()
    t_warm = time.perf_counter()
    counter = JobCounter(spark, tracer.enabled)
    # untimed warm-up from a separate stream: whole blocks, so every
    # operation's path is compiled by the JVM before timing starts (in a
    # fresh session latency keeps falling over the first few dozen requests)
    warm_s = []
    warm = gen.request_stream(nw.net, seed, warmup=True)
    for _ in range(WARMUP_BLOCKS * len(gen.REQUEST_BLOCK)):
        spec = next(warm)
        t0 = time.perf_counter()
        do_request(spark, tracer, nw, spec)
        warm_s.append((spec["op"], round(time.perf_counter() - t0, 3)))
    stream = gen.request_stream(nw.net, seed)
    reqs: list[Request] = []
    t_loop = time.perf_counter()
    t_end = t_loop + seconds
    block = len(gen.REQUEST_BLOCK)
    # whole blocks only, so every run has the request mix exactly; the time
    # limit is checked at block ends
    while not reqs or len(reqs) % block or time.perf_counter() < t_end:
        req = Request(spec=next(stream))
        gid = counter.start()
        cpu0 = cpu_s_by_kind() if tracer.enabled else {}
        with tracer.request(f"req-{req.spec['i']}"):
            t0 = time.perf_counter()
            req.response = do_request(spark, tracer, nw, req.spec)
            req.latency_s = time.perf_counter() - t0
        if tracer.enabled:
            req.cpu_s = {k: v - cpu0[k] for k, v in cpu_s_by_kind().items()}
        req.jobs, req.tasks = counter.count(gid)
        reqs.append(req)
    t_checks = time.perf_counter()
    for req in reqs:
        out.attempted += 1
        err = check_request(nw, req)
        if err:
            out.fail(f"request {req.spec['i']} ({req.spec['op']}): {err}")
    lat = [r.latency_s for r in reqs]
    p50_by_op = {op: median([r.latency_s for r in reqs if r.spec["op"] == op]) for op in OPS}
    # one client's request rate at the median latency of each operation,
    # weighted by the block's mix: a median over the whole run, so a burst
    # of contention from other tenants of the host does not move it
    block_s = sum(p50_by_op[op] for op, _costing in gen.REQUEST_BLOCK)
    out.metrics = {
        "throughput_per_s": (block / block_s, "1/s"),
        "latency_p50_ms": (median(lat) * 1e3, "ms"),
    }
    out.info = {"requests": len(reqs), "warmup_s": warm_s, "mean_requests_per_s": len(reqs) / sum(lat),
                # informational: the run has fewer than 100 samples, so
                # fewer than ten lie above the 90th percentile
                "latency_p90_ms": percentile(lat, 90.0) * 1e3,
                "block_p50_ms": [round(median(lat[b : b + block]) * 1e3, 1) for b in range(0, len(lat), block)],
                "p50_by_op_ms": {op: round(v * 1e3, 1) for op, v in p50_by_op.items()},
                "phase_s": {"warmup": t_loop - t_warm, "loop": t_checks - t_loop,
                                                  "checks": time.perf_counter() - t_checks}}
    return out, reqs


def interactive_layer_metrics(nw: Network, reqs: list[Request]) -> dict:
    m = {}
    for op in OPS:
        lat = [r.latency_s for r in reqs if r.spec["op"] == op]
        m[f"routing.engine.{op}_p50_ms"] = (median(lat) * 1e3 if lat else float("nan"), "ms")
    overhead, p2p = [], []
    for r in reqs:
        k, p = kernel_replay_s(nw, r.spec)
        overhead.append(r.latency_s - k)
        if p is not None:
            p2p.append(p)
    m["routing.engine.action_overhead_ms"] = (median(overhead) * 1e3, "ms")
    m["routing.engine.spark_jobs_per_request"] = (sum(r.jobs for r in reqs) / len(reqs), "count")
    m["routing.engine.spark_tasks_per_request"] = (sum(r.tasks for r in reqs) / len(reqs), "count")
    for kind in ("jvm", "python_worker"):
        m[f"routing.engine.{kind}_cpu_ms_per_request"] = (
            sum(r.cpu_s[kind] for r in reqs) / len(reqs) * 1e3, "ms")
    m["routing.kernels.p2p_ms"] = (median(p2p) * 1e3 if p2p else float("nan"), "ms")
    return m
