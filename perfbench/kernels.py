"""Kernel layer: the NumPy/Python kernels called directly, no Spark.

Each metric is nanoseconds per row on one 65,536-row batch of the
workload's own input, the best of three calls. The per-row codec paths
(``parse_wkb``/``write_wkb``) are what ``to_geoarrow``/``from_geoarrow``
run per row today; the buffer paths are the vectorized alternatives.
``encode`` is ``geoms_to_geoarrow`` plus ``to_pyarrow`` and ``decode``
is ``from_pyarrow`` plus ``geoarrow_to_geoms``: the layout work of the
two codec UDF bodies. The ``kernels.poly.*`` figures repeat the codec
path on the workload's polygons; they model the polygon roundtrip's
Python work and are reported, not gated.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa

def _ns_per_row(fn, n: int, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter_ns()
        fn()
        best = min(best, time.perf_counter_ns() - t0)
    return best / n


def _buffers(values: list):
    arr = pa.array(values, type=pa.binary())
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32,
                            count=len(arr) + 1).astype(np.int64)
    return np.frombuffer(bufs[2], dtype=np.uint8), offsets


def _codec(wkbs: list, extension: str) -> dict:
    """ns/row of the four codec steps over one batch of WKB."""
    from geospark.kernels.garrow import (from_pyarrow, geoarrow_to_geoms,
                                         geoms_to_geoarrow, to_pyarrow)
    from geospark.kernels.wkb import parse_wkb, write_wkb
    n = len(wkbs)
    geoms = [parse_wkb(b) for b in wkbs]
    arr, _ = to_pyarrow(geoms_to_geoarrow(geoms, extension, dims="xy"))
    ext = f"geoarrow.{extension}"
    return {
        "parse_wkb": _ns_per_row(lambda: [parse_wkb(b) for b in wkbs], n),
        "write_wkb": _ns_per_row(lambda: [write_wkb(g) for g in geoms], n),
        "encode": _ns_per_row(
            lambda: to_pyarrow(geoms_to_geoarrow(geoms, extension,
                                                 dims="xy")), n),
        "decode": _ns_per_row(
            lambda: geoarrow_to_geoms(from_pyarrow(arr, ext)), n),
    }


def measure(x: np.ndarray, y: np.ndarray, polys: list[bytes],
            rings: list[np.ndarray]) -> dict:
    """All kernel metrics for one workload's batch: (x, y) points,
    polygon WKBs and the rings of one of its polygons."""
    from geospark.functions.cells import encode_np
    from geospark.kernels.ops import point_in_rings
    from geospark.kernels.wkb import (parse_point_wkb_buffer,
                                      parse_polygon_wkb_buffer,
                                      points_to_wkb_buffer)
    n = len(x)
    data, offsets = points_to_wkb_buffer(x, y)
    pwkb = [data[offsets[i]:offsets[i + 1]].tobytes() for i in range(n)]
    pdata, poffs = _buffers(polys)
    out = {
        "kernels.wkb.points_to_wkb_ns": _ns_per_row(
            lambda: points_to_wkb_buffer(x, y), n),
        "kernels.wkb.parse_point_buffer_ns": _ns_per_row(
            lambda: parse_point_wkb_buffer(data, offsets, None), n),
        "kernels.wkb.parse_polygon_buffer_ns": _ns_per_row(
            lambda: parse_polygon_wkb_buffer(pdata, poffs, None), len(polys)),
        "kernels.ops.point_in_rings_ns": _ns_per_row(
            lambda: point_in_rings(x, y, rings), n),
        "functions.cells.encode_np_ns": _ns_per_row(
            lambda: encode_np(y, x, 8), n),
    }
    pt = _codec(pwkb, "point")
    out["kernels.wkb.parse_wkb_ns"] = pt["parse_wkb"]
    out["kernels.wkb.write_wkb_ns"] = pt["write_wkb"]
    out["kernels.garrow.encode_ns"] = pt["encode"]
    out["kernels.garrow.decode_ns"] = pt["decode"]
    out.update({f"kernels.poly.{k}_ns": v
                for k, v in _codec(polys, "polygon").items()})
    return out
