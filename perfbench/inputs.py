"""Seeded benchmark inputs, written to parquet before anything is timed.

Every value is a pure function of (seed, row id) through a splitmix64
hash, so the same seed always gives the same bytes and a different seed
changes the content but not the sizes or the distributions. The points
and boxes keep the coordinate grids of the oracle twins in
``geospark/queries.py``: point coordinates have two decimals, part-box
edges three decimals ending in 5 and supplier-box edges two decimals off
a quarter grid. No point can then sit exactly on a box edge and no two
boxes can touch, so the engine's ray cast and the reference's closed
comparisons agree everywhere.

WKB is packed here with ``struct``-style NumPy records, not with the
engine's writer, so the reference side of every check is independent of
the code under test.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# full sizes are what the timed runs use; tiny sizes drive the self-test
SIZES = {
    "full": {"points": 600_000, "boxes": 20_000, "supp": 1_000,
             "queries": 1_000, "pages": 30_000,
             "codec_points": 100_000, "mixed": 100_000, "files": 8},
    "tiny": {"points": 6_000, "boxes": 400, "supp": 60, "queries": 40,
             "pages": 2_000, "codec_points": 3_000,
             "mixed": 2_000, "files": 2},
}


def _mix(v: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array."""
    with np.errstate(over="ignore"):
        v = v.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        v ^= v >> np.uint64(30)
        v *= np.uint64(0xBF58476D1CE4E5B9)
        v ^= v >> np.uint64(27)
        v *= np.uint64(0x94D049BB133111EB)
        v ^= v >> np.uint64(31)
    return v


def uniform(ids: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """[0, 1) doubles keyed by (seed, salt, id)."""
    key = _mix(np.array([seed * 1_000_003 + salt], dtype=np.uint64))[0]
    h = _mix(ids.astype(np.uint64) ^ key)
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def randint(ids: np.ndarray, seed: int, salt: int, lo: int, hi: int
            ) -> np.ndarray:
    """Integers in [lo, hi) keyed by (seed, salt, id)."""
    return lo + np.floor(uniform(ids, seed, salt) * (hi - lo)) \
        .astype(np.int64)


# ---------------------------------------------------------------------------
# WKB packing (little-endian ISO), independent of geospark.kernels.wkb
# ---------------------------------------------------------------------------

_POINT_REC = np.dtype([("bo", "u1"), ("typ", "<u4"), ("x", "<f8"),
                       ("y", "<f8")])
_BOX_REC = np.dtype([("bo", "u1"), ("typ", "<u4"), ("nrings", "<u4"),
                     ("npts", "<u4"), ("xy", "<f8", (10,))])
_MPOINT_HEAD = np.dtype([("bo", "u1"), ("typ", "<u4"), ("n", "<u4")])


def _binary(data: np.ndarray, width: int) -> pa.Array:
    n = data.nbytes // width
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets),
                         pa.py_buffer(data.tobytes())])


def point_wkb(x: np.ndarray, y: np.ndarray) -> pa.Array:
    rec = np.empty(len(x), dtype=_POINT_REC)
    rec["bo"], rec["typ"], rec["x"], rec["y"] = 1, 1, x, y
    return _binary(rec, _POINT_REC.itemsize)


def box_wkb(x0, y0, x1, y1) -> pa.Array:
    """Counter-clockwise closed rectangles as one-ring WKB polygons."""
    rec = np.empty(len(x0), dtype=_BOX_REC)
    rec["bo"], rec["typ"], rec["nrings"], rec["npts"] = 1, 3, 1, 5
    rec["xy"] = np.stack([x0, y0, x1, y0, x1, y1, x0, y1, x0, y0], axis=1)
    return _binary(rec, _BOX_REC.itemsize)


def multipoint_wkb(x: np.ndarray, y: np.ndarray, k: int) -> list[bytes]:
    """One MULTIPOINT of k members per row, members offset from (x, y)."""
    head = np.empty(1, dtype=_MPOINT_HEAD)
    head["bo"], head["typ"], head["n"] = 1, 4, k
    hb = head.tobytes()
    out = []
    for xi, yi in zip(x, y):
        pts = np.empty(k, dtype=_POINT_REC)
        pts["bo"], pts["typ"] = 1, 1
        pts["x"] = xi + np.arange(k) * 0.01
        pts["y"] = yi
        out.append(hb + pts.tobytes())
    return out


# ---------------------------------------------------------------------------
# tables
# ---------------------------------------------------------------------------

def write_parquet(table: pa.Table, path: str, n_files: int) -> str:
    """Write ``table`` as ``n_files`` parquet files under ``path`` so a
    scan gets one split per file instead of one split for the table."""
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    n = table.num_rows
    step = max(1, -(-n // n_files))
    for i, lo in enumerate(range(0, max(n, 1), step)):
        pq.write_table(table.slice(lo, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return path


def points_table(n: int, seed: int) -> pa.Table:
    """Uniform points over the whole lat/lon plane, two decimals."""
    ids = np.arange(n, dtype=np.int64)
    lat = np.round(uniform(ids, seed, 10) * 179.98 - 90.0, 2)
    lon = np.round(uniform(ids, seed, 11) * 359.98 - 180.0, 2)
    return pa.table({"point_id": ids, "lat": lat, "lon": lon})


def part_boxes_table(n: int, seed: int) -> pa.Table:
    """Integer centres, half-widths 0.505 + 0.3k: edges end in 5 at the
    third decimal (never on a two-decimal point)."""
    ids = np.arange(1, n + 1, dtype=np.int64)
    cx = randint(ids, seed, 20, -150, 150).astype(np.float64)
    cy = randint(ids, seed, 21, -75, 75).astype(np.float64)
    half = 0.505 + randint(ids, seed, 22, 0, 5).astype(np.float64) * 0.3
    x0, y0, x1, y1 = cx - half, cy - half, cx + half, cy + half
    return pa.table({"box_id": ids, "geom_wkb": box_wkb(x0, y0, x1, y1),
                     "xmin": x0, "ymin": y0, "xmax": x1, "ymax": y1,
                     "half": half})


def supp_boxes_table(n: int, seed: int) -> pa.Table:
    """Quarter-grid centres, half-widths 2.52 + 0.11k: two-decimal edges
    that never meet a part-box edge."""
    ids = np.arange(1, n + 1, dtype=np.int64)
    cx = randint(ids, seed, 30, -170, 170).astype(np.float64) + 0.25
    cy = randint(ids, seed, 31, -80, 80).astype(np.float64) + 0.25
    half = 2.52 + randint(ids, seed, 32, 0, 4).astype(np.float64) * 0.11
    x0, y0, x1, y1 = cx - half, cy - half, cx + half, cy + half
    return pa.table({"supp_box_id": ids,
                     "geom_wkb": box_wkb(x0, y0, x1, y1),
                     "xmin": x0, "ymin": y0, "xmax": x1, "ymax": y1})


def queries_table(n: int, seed: int) -> pa.Table:
    ids = np.arange(n, dtype=np.int64)
    q_lat = randint(ids, seed, 40, -86, 87).astype(np.float64) + 0.25
    q_lon = np.round(uniform(ids, seed, 41) * 359.98 - 180.0, 2)
    return pa.table({"query_id": ids, "q_lat": q_lat, "q_lon": q_lon})


def zones_table(zones: list[tuple[int, str | None]]) -> pa.Table:
    """(zone_id, wkt|None) -> (zone_id, geom_wkb). Zones are few and
    polygonal with holes, so the engine's general WKT parser and WKB
    writer build them (they are the program's fixed dimension, not a
    checked output)."""
    from geospark.kernels.geom import parse_wkt
    from geospark.kernels.wkb import write_wkb
    return pa.table({
        "zone_id": pa.array([z for z, _ in zones], pa.int64()),
        "geom_wkb": pa.array([None if w is None else write_wkb(parse_wkt(w))
                              for _, w in zones], pa.binary())})


def mixed_wkb_table(n: int, seed: int) -> pa.Table:
    """Points, two-member multipoints, POINT EMPTY and nulls: the type
    lattice must promote the column to geoarrow.multipoint / xy."""
    ids = np.arange(n, dtype=np.int64)
    x = np.round(uniform(ids, seed, 60) * 300.0 - 150.0, 2)
    y = np.round(uniform(ids, seed, 61) * 140.0 - 70.0, 2)
    kind = randint(ids, seed, 62, 0, 20)
    pts = point_wkb(x, y).to_pylist()
    empty = point_wkb(np.array([np.nan]), np.array([np.nan])).to_pylist()[0]
    mp = np.nonzero(kind < 4)[0]
    mps = dict(zip(mp.tolist(), multipoint_wkb(x[mp], y[mp], 2)))
    col = []
    for i in range(n):
        if i in mps:
            col.append(mps[i])
        elif kind[i] == 4:
            col.append(empty)
        elif kind[i] == 5:
            col.append(None)
        else:
            col.append(pts[i])
    # the first rows pin every kind, so the expected promotion holds at
    # any size
    col[0], col[1], col[2] = pts[0], multipoint_wkb(x[1:2], y[1:2], 2)[0], None
    return pa.table({"row_id": ids, "geom_wkb": pa.array(col, pa.binary())})
