"""Driver-side reference answers the benchmark checks every response
against. They share no code with the package's query path: snapping is a
brute-force scan over the main-road nodes, shortest paths are a plain
binary-heap Dijkstra over the graph's CSR arrays, and analytics results are
compared with DuckDB running each query's oracle SQL.
"""

from __future__ import annotations

import heapq
import math
import struct

import numpy as np
import pandas as pd

EARTH_RADIUS_M = 6371008.8


def snap(g, lon: float, lat: float) -> int:
    """Nearest main-road node by squared degree distance, ties to the
    lowest node id; -1 if the graph has no main-road node."""
    m = g.main_nodes
    if len(m) == 0:
        return -1
    d2 = (g.node_lon[m] - lon) ** 2 + (g.node_lat[m] - lat) ** 2
    return int(m[d2 == d2.min()].min())


def dijkstra(g, src: int, targets=None, max_ms: int | None = None) -> dict[int, int]:
    """Settled node -> cost in ms. Stops once every target is settled, or
    skips costs above ``max_ms``."""
    indptr, indices, weights = g.indptr, g.indices, g.weights_ms
    left = None if targets is None else set(int(t) for t in targets)
    dist = {src: 0}
    done: dict[int, int] = {}
    heap = [(0, src)]
    while heap:
        d, u = heapq.heappop(heap)
        if u in done:
            continue
        done[u] = d
        if left is not None:
            left.discard(u)
            if not left:
                break
        for e in range(indptr[u], indptr[u + 1]):
            v = int(indices[e])
            nd = d + int(weights[e])
            if max_ms is not None and nd > max_ms:
                continue
            if v not in done and nd < dist.get(v, math.inf):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return done


def travel_time_s(g, lat1, lon1, lat2, lon2) -> float | None:
    """Reference for one ``travel_time`` row: None for NULL input or no path."""
    if any(v is None or (isinstance(v, float) and math.isnan(v)) for v in (lat1, lon1, lat2, lon2)):
        return None
    s, t = snap(g, lon1, lat1), snap(g, lon2, lat2)
    if s < 0 or t < 0:
        return None
    w = dijkstra(g, s, targets=[t]).get(t)
    return None if w is None else w / 1000.0


def haversine_m(lon1, lat1, lon2, lat2) -> float:
    p1, p2 = math.radians(lat1), math.radians(lat2)
    a = math.sin((p2 - p1) / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(math.radians(lon2 - lon1) / 2) ** 2
    return 2.0 * EARTH_RADIUS_M * math.asin(math.sqrt(a))


def linestring_points(wkb: bytes) -> list[tuple[float, float]]:
    """(lon, lat) vertices of a little-endian WKB LINESTRING."""
    order, kind, n = struct.unpack_from("<BII", wkb, 0)
    if order != 1 or kind != 2 or len(wkb) != 9 + 16 * n:
        raise ValueError("not a little-endian WKB LINESTRING")
    xy = struct.unpack_from(f"<{2 * n}d", wkb, 9)
    return list(zip(xy[0::2], xy[1::2]))


def same(a: float | None, b: float | None, rel: float = 0.0) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return a == b if rel == 0.0 else abs(a - b) <= rel * max(1.0, abs(b))


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: columns by name, dtype families
    unified, rows sorted by every column."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s):
            pdf[c] = s.astype("bool")
        elif pd.api.types.is_integer_dtype(s):
            pdf[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.astype("float64")
    if len(pdf.columns):
        pdf = pdf.sort_values(list(pdf.columns), kind="stable")
    return pdf.reset_index(drop=True)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal after canonicalisation, else the first difference."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a, b = a.astype(np.float64), b.astype(np.float64)
            eq = (a == b) | (np.isnan(a) & np.isnan(b))
        else:
            eq = np.asarray([x == y for x, y in zip(a, b)], dtype=bool)
        if not eq.all():
            i = int(np.flatnonzero(~eq)[0])
            return f"column {c} row {i}: {a[i]!r} != {b[i]!r}"
    return None
