"""Tests of the benchmark itself: seeded inputs, the reference checks and
the metric contract with BENCHMARK.json.

    python3 -m pytest perfbench/tests -q

The last test starts Spark and runs one short workload end to end.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import ref  # noqa: E402
import routing  # noqa: E402
import run  # noqa: E402
from harness import Outcome  # noqa: E402
from spans import Tracer, layer_report, self_times  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# seeded generators
# ---------------------------------------------------------------------------


def test_road_network_is_deterministic():
    a, b, c = gen.road_network(5, 40, 40), gen.road_network(5, 40, 40), gen.road_network(6, 40, 40)
    assert a.digest() == b.digest()
    assert a.digest() != c.digest()


def test_road_network_shape():
    from duckdb_routing_spark.routing.osm_build import SMALL_BUILD_SEGMENTS

    net = gen.road_network(1, routing.ROWS, routing.COLS)
    full = 2 * routing.ROWS * (routing.COLS - 1) + 2 * gen.N_ISLANDS * gen.ISLAND_DIM * (gen.ISLAND_DIM - 1)
    dropped = 1 - net.n_segments / full
    assert 0.07 < dropped < 0.13
    assert net.n_segments < SMALL_BUILD_SEGMENTS
    classes = set(net.ways["highway"])
    assert {"motorway", "primary", "residential", "footway", "cycleway"} <= classes
    assert (net.ways["oneway"] == "yes").any()
    assert len(net.osm_nodes) == routing.ROWS * routing.COLS + gen.N_ISLANDS * gen.ISLAND_DIM**2


def test_trip_jobs_are_deterministic_and_skewed():
    net = gen.road_network(3, 40, 40)
    a, b = gen.trip_job(net, 3, 0, 5000), gen.trip_job(net, 3, 0, 5000)
    assert a.digest() == b.digest()
    assert a.digest() != gen.trip_job(net, 3, 1, 5000).digest()
    assert int(a.expected_null.sum()) == 50
    # Zipf origins: the most popular origin point serves many rows
    _, counts = np.unique(np.round(a.lat1[~np.isnan(a.lat1)], 12), return_counts=True)
    assert counts.max() > 200
    share = pd.Series(a.costing).value_counts(normalize=True)
    assert 0.6 < share["auto"] < 0.8


def test_request_stream_is_deterministic_with_exact_mix():
    net = gen.road_network(2, 40, 40)
    take = lambda s: [r for _, r in zip(range(40), s)]  # noqa: E731
    a, b = take(gen.request_stream(net, 2)), take(gen.request_stream(net, 2))
    assert a == b
    assert a != take(gen.request_stream(net, 2, warmup=True))
    ops = pd.Series([r["op"] for r in a]).value_counts().to_dict()
    assert ops == {"travel_time": 16, "route_wkb": 10, "snap": 6, "matrix": 4, "isochrone": 4}


def test_analytics_tables_are_deterministic():
    a, b = gen.analytics_tables(4, scale=0.002), gen.analytics_tables(4, scale=0.002)
    assert all(a[t].equals(b[t]) for t in gen.ANALYTICS_TABLES)
    c = gen.analytics_tables(5, scale=0.002)
    assert not c["lineitem"].equals(a["lineitem"])


# ---------------------------------------------------------------------------
# reference checks catch wrong answers
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def small_network():
    """A 30x30 network built by the package's single-batch graph build, no
    Spark needed."""
    from duckdb_routing_spark.routing.graph import RoutingGraph
    from duckdb_routing_spark.routing.osm_build import build_mode_graph_pandas

    net = gen.road_network(7, 30, 30)
    segs = []
    for w in net.ways.itertuples(index=False):
        segs += [(a, b, w.highway, w.oneway or "no") for a, b in zip(w.nodes[:-1], w.nodes[1:])]
    segs = pd.DataFrame(segs, columns=["src_osm", "dst_osm", "highway", "oneway"])
    nw = routing.Network(net=net, engine=None, tiles="")
    for m in gen.MODES:
        nodes, edges = build_mode_graph_pandas(segs, net.osm_nodes, m)
        nw.graphs[m] = RoutingGraph.from_pandas(nodes, edges)
    return nw


def _reference_response(nw, spec):
    """A correct response for ``spec``, computed with the package kernels
    (not with the reference code under test)."""
    from duckdb_routing_spark.routing import kernels

    g = nw.graphs[spec["costing"]]
    lat, lon = spec["lat"], spec["lon"]
    if spec["op"] == "travel_time":
        return float(kernels.batch_travel_time_s(g, lat[:1], lon[:1], lat[1:2], lon[1:2])[0])
    k = gen.MATRIX_DIM
    src = g.nearest_main_nodes(np.asarray(lon[:k]), np.asarray(lat[:k]))
    tgt = g.nearest_main_nodes(np.asarray(lon[k:]), np.asarray(lat[k:]))
    rows = []
    for i, s in enumerate(src):
        w, _ = kernels.sssp_multi_target(g, int(s), tgt)
        rows += [(i, j, 1.0, None if w[j] < 0 else w[j] / 1000.0) for j in range(k)]
    return rows


def _first(nw, op):
    return next(s for s in gen.request_stream(nw.net, 7) if s["op"] == op)


def test_wrong_travel_time_is_caught(small_network):
    spec = _first(small_network, "travel_time")
    good = routing.Request(spec=spec, response=_reference_response(small_network, spec))
    assert routing.check_request(small_network, good) is None
    bad = routing.Request(spec=spec, response=good.response + 0.001)
    assert "travel_time" in routing.check_request(small_network, bad)


def test_wrong_matrix_cell_is_caught(small_network):
    spec = _first(small_network, "matrix")
    rows = _reference_response(small_network, spec)
    assert routing.check_request(small_network, routing.Request(spec=spec, response=rows)) is None
    i, j, d, s = rows[7]
    rows[7] = (i, j, d, s + 1.0)
    assert routing.check_request(small_network, routing.Request(spec=spec, response=rows))


def test_wrong_batch_row_and_null_count_fail_the_job(small_network):
    nw = small_network
    trips = gen.trip_job(nw.net, 7, 0, 200)
    ids = np.flatnonzero(~trips.expected_null)[:3]
    job = routing.Job(index=0, trips=trips, path="", sample_ids=ids)
    sampled = {
        int(i): ref.travel_time_s(nw.graphs[trips.costing[i]], trips.lat1[i], trips.lon1[i], trips.lat2[i], trips.lon2[i])
        for i in ids
    }
    n_null = int(trips.expected_null.sum())
    job.result = {"n": 200, "n_routed": 200 - n_null, "sampled": dict(sampled)}
    ok = Outcome()
    routing.check_job(nw, job, ok)
    assert (ok.attempted, ok.failed) == (4, 0)

    job.result["sampled"][int(ids[0])] += 0.001  # one wrong duration
    job.result["n_routed"] += 1  # one NULL missing
    bad = Outcome()
    routing.check_job(nw, job, bad)
    assert bad.failed == 2


def test_oracle_mismatch_is_caught():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert ref.frames_equal(want.iloc[::-1], want) is None
    assert ref.frames_equal(want.assign(v=[0.5, 1.5, 2.5000001]), want)
    assert ref.frames_equal(want.iloc[:2], want)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.request("r1"):
        with tr.span("routing.engine.matrix"):
            with tr.span("spark.action"):
                pass
    st = self_times(tr.spans)
    by = {s.name: s for s in tr.spans}
    assert all(s.request == "r1" for s in tr.spans)
    assert by["spark.action"].parent == by["routing.engine.matrix"].id
    eng = by["routing.engine.matrix"]
    assert st[eng.id] == pytest.approx(eng.duration - by["spark.action"].duration)
    rep = layer_report(tr.spans)
    assert set(rep) == {"bench", "routing.engine", "spark.action"}


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.request("r"), tr.span("queries.q1_pricing_summary"):
        pass
    assert tr.spans == []


# ---------------------------------------------------------------------------
# the metric contract
# ---------------------------------------------------------------------------


def test_runner_metric_names_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == ["route_batch", "route_interactive"]
    assert set(w["name"] for w in spec["workloads"]) <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert spec["paths"] == ["perfbench"]


def test_end_to_end_run_prints_every_metric_with_its_unit():
    spec = _spec()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "route_interactive", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for m in spec["end_to_end"]:
        assert f"# {m['name']} = " in p.stdout and p.stdout.count(m["unit"]) >= 1
