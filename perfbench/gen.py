"""Seeded input generators for the benchmark.

Everything here is pure numpy/pandas and depends only on the seed, so one
seed always yields byte-identical inputs. The package under test never sees
the seed: it receives the generated DataFrames (road network, trip tables,
fact tables) and the request parameters.

Road network
    A ``rows x cols`` lattice of OSM-style ``ways(way_id, nodes, highway,
    oneway)`` over ``osm_nodes(node_id, lon, lat)``, built so that every
    routing answer's *reachability* is known by construction:

    - every horizontal street is present in every mode (motorway, primary
      or residential) and the border streets plus every tenth column are
      bidirectional arterials, so the mainland is strongly connected in all
      three mode graphs;
    - the remaining vertical streets carry the variety: about a fifth of
      them are dropped (about 10% of all segments), some are footway or
      cycleway (so the auto graph differs from bicycle/pedestrian), some are
      oneway, and the primary rows form oneway couplets;
    - a few small islands far south of the mainland are routable inside
      themselves but unreachable from it, so a trip with exactly one island
      endpoint has no path and returns NULL.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

LAT0, LON0 = 52.0, 13.0
DLAT, DLON = 0.0009, 0.0015  # ~100 m each way at 52 N
ISLAND_DIM = 6
N_ISLANDS = 3
ISLAND_GAP_DEG = 0.1  # ~11 km south of the mainland
MODES = ("auto", "bicycle", "pedestrian")


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *stream])


@dataclass
class RoadNetwork:
    ways: pd.DataFrame  # way_id int64, nodes list[int64], highway str, oneway str|None
    osm_nodes: pd.DataFrame  # node_id int64, lon float64, lat float64
    rows: int
    cols: int
    mainland_bbox: tuple[float, float, float, float]  # min_lon, min_lat, max_lon, max_lat
    island_bboxes: list[tuple[float, float, float, float]]

    @property
    def n_segments(self) -> int:
        return int((self.ways["nodes"].map(len) - 1).sum())

    def digest(self) -> str:
        h = hashlib.sha256()
        h.update(self.osm_nodes.to_numpy().tobytes())
        for row in self.ways.itertuples(index=False):
            h.update(f"{row.way_id}|{list(row.nodes)}|{row.highway}|{row.oneway};".encode())
        return h.hexdigest()


def road_network(seed: int, rows: int = 250, cols: int = 250) -> RoadNetwork:
    rng = _rng(seed, 1)
    n_main = rows * cols
    n_isl = N_ISLANDS * ISLAND_DIM * ISLAND_DIM
    # OSM ids: large, gapped and not in spatial order (the graph build remaps them)
    osm_id = 100_000_000 + rng.permutation(n_main + n_isl).astype(np.int64) * 7

    r, c = np.divmod(np.arange(n_main, dtype=np.int64), cols)
    lat = LAT0 + r * DLAT + rng.uniform(-0.1, 0.1, n_main) * DLAT
    lon = LON0 + c * DLON + rng.uniform(-0.1, 0.1, n_main) * DLON
    isl_lat, isl_lon, island_bboxes = [], [], []
    for k in range(N_ISLANDS):
        ir, ic = np.divmod(np.arange(ISLAND_DIM * ISLAND_DIM, dtype=np.int64), ISLAND_DIM)
        base_lat = LAT0 - ISLAND_GAP_DEG - k * 0.05
        base_lon = LON0 + (k + 1) * (cols * DLON) / (N_ISLANDS + 1)
        isl_lat.append(base_lat + ir * DLAT)
        isl_lon.append(base_lon + ic * DLON)
        island_bboxes.append(
            (base_lon, base_lat, base_lon + (ISLAND_DIM - 1) * DLON, base_lat + (ISLAND_DIM - 1) * DLAT)
        )
    osm_nodes = pd.DataFrame(
        {
            "node_id": osm_id,
            "lon": np.concatenate([lon, *isl_lon]),
            "lat": np.concatenate([lat, *isl_lat]),
        }
    )

    def nid(rr, cc):
        return osm_id[rr * cols + cc]

    ways: list[tuple] = []

    def emit(node_ids, highway, oneway, max_len):
        # split a run of nodes into ways of at most max_len segments
        i = 0
        while i < len(node_ids) - 1:
            j = min(len(node_ids) - 1, i + int(rng.integers(3, max_len + 1)))
            ways.append((len(ways), [int(x) for x in node_ids[i : j + 1]], highway, oneway))
            i = j

    arterial_col = (np.arange(cols) % 10 == 5) | (np.arange(cols) == 0) | (np.arange(cols) == cols - 1)
    for rr in range(rows):
        run = [nid(rr, cc) for cc in range(cols)]
        if rr in (0, rows - 1):
            emit(run, "primary", None, 12)
        elif rr % 50 == 25:
            emit(run, "motorway", None, 12)
        elif rr % 10 == 5:
            # oneway couplets: eastbound and westbound primaries alternate
            emit(run if rr % 20 == 5 else run[::-1], "primary", "yes", 12)
        else:
            emit(run, "residential", None, 12)
    for cc in range(cols):
        run = [nid(rr, cc) for rr in range(rows)]
        if arterial_col[cc]:
            emit(run, "motorway" if cc % 50 == 25 else "primary", None, 12)
            continue
        # per-segment draws for a residential column, then group runs of
        # equal (class, oneway, direction); dropped segments break runs
        u = rng.uniform(size=rows - 1)
        cls = np.where(u < 0.22, "", np.where(u < 0.32, "footway", np.where(u < 0.38, "cycleway", "residential")))
        ow = rng.uniform(size=rows - 1) < 0.12
        flip = rng.uniform(size=rows - 1) < 0.5
        keys = list(zip(cls, ow, ow & flip))
        s = 0
        while s < rows - 1:
            e = s
            while e + 1 < rows - 1 and keys[e + 1] == keys[s] and e + 1 - s < 8:
                e += 1
            if cls[s]:
                seg_nodes = run[s : e + 2]
                oneway = "yes" if ow[s] else None
                if oneway and flip[s]:
                    seg_nodes = seg_nodes[::-1]
                ways.append((len(ways), [int(x) for x in seg_nodes], str(cls[s]), oneway))
            s = e + 1

    base = n_main
    for k in range(N_ISLANDS):
        ids = osm_id[base + k * ISLAND_DIM**2 : base + (k + 1) * ISLAND_DIM**2].reshape(ISLAND_DIM, ISLAND_DIM)
        for i in range(ISLAND_DIM):
            ways.append((len(ways), [int(x) for x in ids[i]], "residential", None))
            ways.append((len(ways), [int(x) for x in ids[:, i]], "primary" if i == 0 else "residential", None))

    ways_df = pd.DataFrame(ways, columns=["way_id", "nodes", "highway", "oneway"])
    ways_df["way_id"] = ways_df["way_id"].astype(np.int64)
    return RoadNetwork(
        ways=ways_df,
        osm_nodes=osm_nodes,
        rows=rows,
        cols=cols,
        mainland_bbox=(LON0, LAT0, LON0 + (cols - 1) * DLON, LAT0 + (rows - 1) * DLAT),
        island_bboxes=island_bboxes,
    )


# ---------------------------------------------------------------------------
# trip tables and the interactive request stream
# ---------------------------------------------------------------------------

COSTING_MIX = (("auto", 0.7), ("bicycle", 0.2), ("pedestrian", 0.1))
ZIPF_S = 1.1
N_ORIGINS = 2000


@dataclass
class TripJob:
    lat1: np.ndarray  # float64, NaN where the generator set a NULL
    lon1: np.ndarray
    lat2: np.ndarray
    lon2: np.ndarray
    costing: np.ndarray  # object array of str
    expected_null: np.ndarray  # bool: NULL coordinate or exactly one island endpoint

    def __len__(self) -> int:
        return len(self.lat1)

    def to_pandas(self) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "row_id": np.arange(len(self), dtype=np.int64),
                "lat1": self.lat1,
                "lon1": self.lon1,
                "lat2": self.lat2,
                "lon2": self.lon2,
                "costing": self.costing,
            }
        )

    def digest(self) -> str:
        h = hashlib.sha256()
        for a in (self.lat1, self.lon1, self.lat2, self.lon2, self.expected_null):
            h.update(np.ascontiguousarray(a).tobytes())
        h.update("|".join(self.costing).encode())
        return h.hexdigest()


def _points_in(rng, bbox, n):
    min_lon, min_lat, max_lon, max_lat = bbox
    return rng.uniform(min_lat, max_lat, n), rng.uniform(min_lon, max_lon, n)


def _costings(rng, n):
    names = np.array([m for m, _ in COSTING_MIX], dtype=object)
    return names[rng.choice(len(names), size=n, p=[p for _, p in COSTING_MIX])]


def origin_points(net: RoadNetwork, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """The fixed pool of origin points the Zipf draw ranks over."""
    return _points_in(_rng(seed, 2), net.mainland_bbox, N_ORIGINS)


def trip_job(net: RoadNetwork, seed: int, job: int, n_rows: int) -> TripJob:
    """One bulk job: Zipf(1.1)-skewed origins over a fixed pool, uniform
    destinations, the costing mix, and about 1% NULL / island rows."""
    o_lat, o_lon = origin_points(net, seed)
    rng = _rng(seed, 3, job)
    ranks = np.arange(1, N_ORIGINS + 1, dtype=np.float64)
    p = ranks**-ZIPF_S
    # which pool point holds which popularity rank changes per seed, not per job
    rank_to_point = _rng(seed, 2, 1).permutation(N_ORIGINS)
    o = rank_to_point[rng.choice(N_ORIGINS, size=n_rows, p=p / p.sum())]
    lat1, lon1 = o_lat[o].copy(), o_lon[o].copy()
    lat2, lon2 = _points_in(rng, net.mainland_bbox, n_rows)
    costing = _costings(rng, n_rows)
    expected_null = np.zeros(n_rows, dtype=bool)

    special = rng.choice(n_rows, size=n_rows // 100, replace=False)
    half = len(special) // 2
    cols = (lat1, lon1, lat2, lon2)
    for i, which in zip(special[:half], rng.integers(0, 4, half)):
        cols[which][i] = np.nan  # a NULL coordinate
    for i, isl, end in zip(
        special[half:], rng.integers(0, len(net.island_bboxes), len(special) - half),
        rng.integers(0, 2, len(special) - half),
    ):
        la, lo = _points_in(rng, net.island_bboxes[isl], 1)
        if end == 0:
            lat1[i], lon1[i] = la[0], lo[0]
        else:
            lat2[i], lon2[i] = la[0], lo[0]
    expected_null[special] = True
    return TripJob(lat1, lon1, lat2, lon2, costing, expected_null)


# the interactive mix as one block of 20 (operation, costing) requests: 40%
# travel_time, 25% route_wkb, 15% snap, 10% matrix, 10% isochrone, and 70%
# auto / 20% bicycle / 10% pedestrian overall. Every block is a shuffle of the
# same requests, so any whole number of blocks has the mix exactly.
REQUEST_BLOCK = (
    (("travel_time", "auto"),) * 6 + (("travel_time", "bicycle"),) + (("travel_time", "pedestrian"),)
    + (("route_wkb", "auto"),) * 3 + (("route_wkb", "bicycle"),) + (("route_wkb", "pedestrian"),)
    + (("snap", "auto"),) * 2 + (("snap", "bicycle"),)
    + (("matrix", "auto"),) + (("matrix", "bicycle"),)
    + (("isochrone", "auto"),) * 2
)
MATRIX_DIM = 5
ISOCHRONE_SECONDS = 300.0


def request_stream(net: RoadNetwork, seed: int, warmup: bool = False):
    """The seeded interactive request stream (endless). Each request is
    self-contained: its operation, costing and fresh mainland coordinates.
    The warm-up stream is a separate draw, so timed requests are fresh."""
    rng = _rng(seed, 4, int(warmup))
    i = 0
    while True:
        for j in rng.permutation(len(REQUEST_BLOCK)):
            op, costing = REQUEST_BLOCK[j]
            lat, lon = _points_in(rng, net.mainland_bbox, 2 * MATRIX_DIM if op == "matrix" else 2)
            yield {"i": i, "op": op, "costing": costing, "lat": lat.tolist(), "lon": lon.tolist()}
            i += 1


# ---------------------------------------------------------------------------
# analytics tables (the TPC-H-ish star schema + events/documents/embeddings
# at the shapes and value domains of scale factor 0.1)
# ---------------------------------------------------------------------------

ANALYTICS_TABLES = (
    "region", "nation", "customer", "supplier", "orders", "lineitem",
    "events", "documents", "embeddings",
)
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_VOCAB = (
    "the a of and is to in spark data query table join scan filter sort group agg "
    "window row column order line part customer key value hash vector stream batch "
    "merge fast slow big small"
).split()


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def analytics_tables(seed: int, scale: float = 0.1) -> dict[str, "pa.Table"]:
    """Arrow tables keyed by name, sized like the scale-factor-``scale``
    fixture (scale 0.1: 600k lineitem rows, 100k events, 5k documents)."""
    import pyarrow as pa

    rng = _rng(seed, 5)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_orders = int(1_500_000 * scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
            "o_orderpriority": np.array(_PRIORITIES, dtype=object)[rng.integers(0, 5, n_orders)],
        }
    )
    # 1..7 lines per order, 4 on average, like TPC-H
    n_lines = rng.integers(1, 8, n_orders)
    l_orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), n_lines)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    l_linenumber = (np.arange(len(l_orderkey)) - starts + 1).astype(np.int32)
    n_li = len(l_orderkey)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, int(200_000 * scale), n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": pa.array(l_linenumber, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )

    n_ev = int(1_000_000 * scale)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(t0, t0 + span, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )

    n_docs = int(50_000 * scale)
    vocab = np.array(_VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.uniform() < 0.05:
            # near-duplicate of an earlier document (one appended token)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 90)))]))
    lang_p = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS, dtype=object)[rng.choice(5, n_docs, p=lang_p)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )

    n_vec = int(20_000 * scale)
    v = rng.normal(size=(n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    return t


def write_analytics_tables(seed: int, out_dir: str, scale: float = 0.1) -> dict[str, str]:
    """Write ``<out_dir>/<name>.parquet`` for every analytics table."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, tbl in analytics_tables(seed, scale).items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths
