"""Vectorized general-geometry codec (round-3): the batch measure /
dims / astext kernels must agree with the per-geometry scalar kernels
on every corpus shape, mixed batches included. Pure NumPy/pandas — no
Spark session needed."""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest

from geospark.functions.geometry import (_measures_batch, _st_astext_batch,
                                         _st_dims_batch)
from geospark.kernels.corpus import SINGLE_FIXTURES
from geospark.kernels.geom import format_wkt, parse_wkt
from geospark.kernels.ops import geom_area, geom_centroid, point_in_rings
from geospark.kernels.wkb import parse_wkb, write_wkb


def _big_endian_point(x: float, y: float) -> bytes:
    return b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", x, y)


def _ewkb_srid_polygon() -> bytes:
    """EWKB little-endian polygon with an SRID word after the header."""
    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 3.0), (0.0, 3.0), (0.0, 0.0)]
    out = b"\x01" + struct.pack("<I", 3 | 0x20000000) \
        + struct.pack("<I", 4326) + struct.pack("<I", 1) \
        + struct.pack("<I", len(ring))
    for px, py in ring:
        out += struct.pack("<dd", px, py)
    return out


def _mixed_batch() -> list[bytes | None]:
    wkbs: list[bytes | None] = [
        write_wkb(parse_wkt(w)) if w else None
        for _, _, w in SINGLE_FIXTURES]
    rng = np.random.default_rng(5)
    for _ in range(40):  # random polygons incl. holes / XYZ / concave
        nv = int(rng.integers(3, 12))
        pts = rng.uniform(-50, 50, (nv, 2))
        ring = np.vstack([pts, pts[:1]])
        body = ", ".join(f"{a!r} {b!r}" for a, b in ring)
        wkt = f"POLYGON (({body}))"
        if rng.random() < 0.3:
            hole = (ring * 0.1).copy()
            hb = ", ".join(f"{a!r} {b!r}" for a, b in hole)
            wkt = f"POLYGON (({body}), ({hb}))"
        wkbs.append(write_wkb(parse_wkt(wkt)))
    wkbs += [_big_endian_point(7.5, -3.25), _ewkb_srid_polygon(), None]
    return wkbs


class TestBatchMeasures:
    def test_area_centroid_match_scalar_kernels(self):
        wkbs = _mixed_batch()
        s = pd.Series(wkbs, dtype=object)
        area, cx, cy = _measures_batch(s)
        for i, b in enumerate(wkbs):
            if b is None:
                assert np.isnan(area[i])
                continue
            g = parse_wkb(b)
            ea = geom_area(g)
            ex, ey = geom_centroid(g)
            assert area[i] == pytest.approx(ea, rel=1e-12, abs=1e-12), \
                format_wkt(g)
            if np.isnan(ex):
                assert np.isnan(cx[i]) and np.isnan(cy[i]), format_wkt(g)
            else:
                assert cx[i] == pytest.approx(ex, rel=1e-12, abs=1e-12)
                assert cy[i] == pytest.approx(ey, rel=1e-12, abs=1e-12)

    def test_box_exact_closed_form(self):
        # small rings sum sequentially in both kernels -> bit-exact
        wkt = "POLYGON ((2 3, 7 3, 7 11, 2 11, 2 3))"
        s = pd.Series([write_wkb(parse_wkt(wkt))], dtype=object)
        area, cx, cy = _measures_batch(s)
        assert area[0] == 40.0 and cx[0] == 4.5 and cy[0] == 7.0

    def test_dims_match_scalar(self):
        wkbs = _mixed_batch()
        out = _st_dims_batch(pd.Series(wkbs, dtype=object))
        for i, b in enumerate(wkbs):
            if b is None:
                assert out[i] is None
            else:
                assert out[i] == parse_wkb(b).dims

    def test_astext_matches_formatter(self):
        wkbs = _mixed_batch()
        out = _st_astext_batch(pd.Series(wkbs, dtype=object))
        for i, b in enumerate(wkbs):
            if b is None:
                assert out[i] is None
            else:
                assert out[i] == format_wkt(parse_wkb(b))

    def test_malformed_polygon_still_raises(self):
        # truncated ring: the vectorized path must NOT silently accept
        # it — it falls back, and the fallback raises like parse_wkb
        good = write_wkb(parse_wkt(
            "POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))"))
        bad = good[:-16]
        with pytest.raises(Exception):
            _measures_batch(pd.Series([bad], dtype=object))
        # zero-length non-null bytes are malformed too (null is fine)
        with pytest.raises(Exception):
            _measures_batch(pd.Series([b""], dtype=object))

    def test_empty_batch(self):
        area, cx, cy = _measures_batch(pd.Series([], dtype=object))
        assert area.size == 0 and cx.size == 0


def _big_endian_polygon(rings: list[np.ndarray]) -> bytes:
    out = b"\x00" + struct.pack(">II", 3, len(rings))
    for r in rings:
        out += struct.pack(">I", len(r)) + r.astype(">f8").tobytes()
    return out


class TestBatchRefineParity:
    def test_wkb_refine_ok_path_matches_fallback(self, monkeypatch):
        """The PolygonBatch-fed ray cast of the WKB-keyed refine's fast
        path must equal the _geom_rings/parse_wkb route. Then
        joins.ray_cast_refine keyed by poly id (ring map) and keyed by
        WKB bytes (batch decode) must give identical booleans, equal to
        that route, 500 points per polygon, over the random LE polygons
        (never the general codec) plus a multipolygon, a big-endian
        polygon with a hole, a null and an EMPTY polygon."""
        import geospark.operators.joins as J
        from geospark.functions.geometry import _series_to_wkb_buffers
        from geospark.kernels.wkb import parse_polygon_wkb_buffer
        rng = np.random.default_rng(9)
        polys = []
        for _ in range(25):
            nv = int(rng.integers(3, 9))
            pts = rng.uniform(-10, 10, (nv, 2))
            ring = np.vstack([pts, pts[:1]])
            body = ", ".join(f"{a!r} {b!r}" for a, b in ring)
            polys.append(write_wkb(parse_wkt(f"POLYGON (({body}))")))
        px = rng.uniform(-12, 12, 500)
        py = rng.uniform(-12, 12, 500)
        data, offs, val = _series_to_wkb_buffers(
            pd.Series(polys, dtype=object))
        pb = parse_polygon_wkb_buffer(data, offs, val)
        assert pb.ok.all()
        lo = np.searchsorted(pb.poly_of_ring, np.arange(len(polys)))
        hi = np.searchsorted(pb.poly_of_ring, np.arange(len(polys)) + 1)
        for ci, w in enumerate(polys):
            rings = []
            for ri in range(lo[ci], hi[ci]):
                st = pb.ring_row_start[ri]
                en = st + pb.ring_rows[ri]
                rings.append(np.column_stack((pb.xs[st:en],
                                              pb.ys[st:en])))
            got = point_in_rings(px, py, rings)
            g = parse_wkb(w)
            want = point_in_rings(px, py, [r[:, :2] for r in g.rings])
            assert np.array_equal(got, want)

        polys.append(write_wkb(parse_wkt(
            "MULTIPOLYGON (((-9 -9, -2 -9, -2 -2, -9 -2, -9 -9)), "
            "((1 1, 8 1, 4 9, 1 1)))")))
        shell = np.array([[-8.0, -8], [8, -8], [8, 8], [-8, 8], [-8, -8]])
        hole = np.array([[-3.0, -3], [3, -3], [3, 3], [-3, 3], [-3, -3]])
        polys.append(_big_endian_polygon([shell, hole]))
        polys.append(None)
        polys.append(write_wkb(parse_wkt("POLYGON EMPTY")))
        n = 500 * len(polys)
        px = rng.uniform(-12, 12, n)
        py = rng.uniform(-12, 12, n)
        pid = np.repeat(np.arange(len(polys)), 500)
        rng.shuffle(pid)
        want = np.zeros(n, dtype=bool)
        for k, w in enumerate(polys):
            m = pid == k
            for rings in (J._geom_rings(parse_wkb(w)) if w else []):
                want[m] |= point_in_rings(px[m], py[m], rings)
        for k in (25, 26):  # multipolygon, holed big-endian polygon
            assert want[pid == k].any() and not want[pid == k].all()
        _cover, ring_map = J.polygon_cover(list(enumerate(polys)), 6)
        by_id = J.ray_cast_refine(pd.Series(pid), px, py, ring_map)
        general = []
        real = J.parse_wkb

        def spy(w):
            general.append(bytes(w))
            return real(w)

        monkeypatch.setattr(J, "parse_wkb", spy)
        by_wkb = J.ray_cast_refine(
            pd.Series([polys[i] for i in pid], dtype=object), px, py)
        assert general and not set(general) & set(polys[:25])
        assert np.array_equal(by_id, by_wkb)
        assert np.array_equal(by_wkb, want)
        # null keys (interior rows the JVM already decided) are False
        gated = pd.Series(pid, dtype="float64").where(pid % 2 == 0)
        assert not J.ray_cast_refine(gated, px, py, ring_map)[
            pid % 2 == 1].any()


class TestLengthNpoints:
    def test_npoints_batch_matches_num_coordinates(self):
        from geospark.functions.geometry import _st_npoints_batch
        from geospark.kernels.wkb import parse_wkb
        wkbs = _mixed_batch()
        out = _st_npoints_batch(pd.Series(wkbs, dtype=object))
        for i, b in enumerate(wkbs):
            if b is None:
                assert out[i] is None
            else:
                assert out[i] == parse_wkb(b).num_coordinates(), i

    def test_geom_length_semantics(self):
        from geospark.kernels.geom import parse_wkt
        from geospark.kernels.ops import geom_length
        assert geom_length(parse_wkt("LINESTRING (0 0, 3 4)")) == 5.0
        assert geom_length(parse_wkt(
            "MULTILINESTRING ((0 0, 1 0), (0 0, 0 2))")) == 3.0
        assert geom_length(parse_wkt(
            "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")) == 0.0
        assert geom_length(parse_wkt("POINT (1 1)")) == 0.0
        assert geom_length(parse_wkt("LINESTRING EMPTY")) == 0.0
        assert geom_length(None) == 0.0
